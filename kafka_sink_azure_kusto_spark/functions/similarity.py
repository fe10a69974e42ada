"""Vector similarity search over an embedding column (north-star
additions, SURVEY §7.3.6): brute-force cosine top-k baseline + bucketed
(IVF-style) scale path.

Scale design:
- The query side is small (a handful-to-thousands of probe vectors) →
  ALWAYS broadcast it; the corpus side streams. The only wide operation
  is the final per-query top-k, a shuffle of n_queries × k rows.
- Dot products run in JVM via zip_with/aggregate (no Python, no UDF) on
  double precision with sequential fold order — deterministic and
  bit-reproducible against the DuckDB oracle's list_dot_product.
- IVF variant prunes the corpus to matching cells before scoring —
  probing ``n_probe`` cells scans n_probe/n_cells of the data; at 100 TB
  the cell column is also the parquet partition key so pruning happens
  at the scan (partition pruning), not after it.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_sink_azure_kusto_spark.functions.sql_text import quote_ident


# The vector folds take array column NAMES and are parsed from one SQL
# string each (``sql_text``): built from Column calls, one cosine() made
# about 40 py4j round trips (56 ms) per query plan. A dotted name is a
# qualified reference (``a.v``).


def _ref(name: str) -> str:
    return ".".join(quote_ident(part) for part in name.split("."))


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({_ref(a)}, {_ref(b)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({_ref(a)}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, x) -> acc + x))"
    )


def dot(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (deterministic)."""
    return F.expr(_dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    return F.expr(f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})")


# Measured dead end, kept as a note: a flat 64-term `sv[0]*dv[0]+…`
# SQL expression does NOT whole-stage-compile (0 WSCG spans — the
# 127-node tree trips codegen fallback) and ran 5× SLOWER than the
# aggregate/zip_with fold on a 9.5M-pair microbench. The fold is the
# fastest available pair scorer; the win that IS real is computing
# per-vector norms once before the pair join (1 fold per pair, not 3).


def _store_exists(spark, path: str) -> bool:
    """True iff ``path`` holds index DATA on whatever FileSystem backs
    it (local, HDFS, S3A, ...) — resolved through the Hadoop FileSystem
    API so the first-run check in the index-upsert kernels is
    storage-agnostic rather than a local-only ``os.path`` probe
    (ADVICE r11 #1/#3).

    "Holds data" means at least one non-hidden child (a partition
    directory or data file), not bare path existence: a store whose
    every partition was deleted by tombstones still has its directory
    and write markers (``_SUCCESS``), and treating THAT as an existing
    store makes the next batch's parquet read fail forever — a
    legitimately empty store must be indistinguishable from a
    first-run store, while a store with unreadable DATA still fails
    loudly."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            return True
    return False


def _store_delete_partition(spark, store_dir: str, partition: str) -> None:
    """Delete one hive-style partition directory (``col=value``) from a
    parquet index store through the Hadoop FileSystem API. Dynamic
    partition overwrite never touches partitions ABSENT from the
    written frame, so partitions emptied by tombstones must be removed
    explicitly — and doing that with ``shutil.rmtree`` would silently
    no-op on HDFS/S3, leaving stale serving state (ADVICE r11 #3).
    ``fs.delete`` on an already-absent path returns False, which is
    fine: the partition is gone either way."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(store_dir, partition)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


# Largest partition list pruned with a literal isin(); a longer one (IVF
# cells go up to 2^18) is pruned with a broadcast semi-join instead, so
# the plan and the generated code stay bounded.
_ISIN_MAX_PARTITIONS = 1024


def _prune_partitions(df: DataFrame, part_col: str, affected: list) -> DataFrame:
    """Rows of ``df`` whose ``part_col`` is in ``affected``."""
    if len(affected) <= _ISIN_MAX_PARTITIONS:
        return df.filter(F.col(part_col).isin(affected))
    keys = df.sparkSession.createDataFrame(
        [(p,) for p in affected], df.select(part_col).schema
    )
    return df.join(F.broadcast(keys), part_col, "left_semi")


def _rewrite_partitions(
    frame: DataFrame, store_dir: str, part_col: str, affected: list
) -> list:
    """The write tail of every partitioned-store upsert: replace the
    ``affected`` partitions of the parquet store at ``store_dir`` with
    ``frame`` and return the affected partitions ``frame`` left empty.

    ``frame`` is rebalanced on ``part_col`` (one file per partition;
    AQE still splits an oversized one) and ``localCheckpoint``-ed
    before the write: it usually reads the store it overwrites, and
    only a broken lineage makes that safe. Dynamic partition overwrite
    rewrites the partitions present in ``frame`` and never touches one
    absent from it, so the partitions it kept come from an
    ``Observation`` on the write and the emptied ones are deleted
    through the Hadoop FileSystem API."""
    rewrite = frame.hint("rebalance", part_col).localCheckpoint()
    written = Observation()
    rewrite.observe(written, F.collect_set(part_col).alias("kept")).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(part_col).parquet(
        store_dir
    )
    kept = set(written.get["kept"])
    emptied = [p for p in affected if p not in kept]
    for p in emptied:
        _store_delete_partition(frame.sparkSession, store_dir, f"{part_col}={p}")
    return emptied


def last_write_wins(
    df: DataFrame, key: str, value: str, seq_col: str | None = None
) -> DataFrame:
    """One row per ``key`` — the Kafka rule for several deliveries of
    one key (a NULL ``value`` is a tombstone, the later delivery wins):
    the highest ``seq_col`` first; then a live row before a tombstone
    and the greatest ``value``; then the greatest of the remaining
    columns. Without ``seq_col`` the tiebreak alone decides, so the
    surviving row never depends on how ``df`` is partitioned.
    ``seq_col`` is dropped."""
    order = [f"-{seq_col}"] if seq_col else []
    order += [f"-{value}"] + [
        f"-{c}" for c in df.columns if c not in (key, value, seq_col)
    ]
    return topk_rows(df, key, order, 1).drop(
        "rank", *([seq_col] if seq_col else [])
    )


class _Upsert(NamedTuple):
    latest: DataFrame  # one row per batch key, with the partition column
    new: DataFrame  # the store rows the batch's live rows encode to
    keep: DataFrame  # stored rows of the affected partitions, keys not in the batch
    old: DataFrame  # stored rows of the affected partitions, keys in the batch
    affected: list
    batch_rows: int


def _upsert_head(
    batch: DataFrame,
    store_dir: str,
    encode: Callable[[DataFrame], DataFrame],
    key: str,
    value: str,
    part: str,
    n_blocks: int | None = None,
    seq_col: str | None = None,
) -> _Upsert:
    """The head of every keyed-store upsert; ``_rewrite_partitions`` is
    its tail. ``batch`` holds ``key``, ``value`` (NULL = tombstone),
    optionally ``seq_col`` and, for a cell store, the carried ``part``
    column; ``encode`` maps live batch rows to store rows, and its
    schema is the store's.

    - ``last_write_wins`` keeps one row per key; with ``n_blocks`` the
      partition is ``part = key % n_blocks``, fixed for a key.
    - The batch's partitions and row count are observed on its
      checkpoint. A cell store adds, in one collect, the cells the
      store holds the batch's keys in now: a key that moved cells must
      leave the old one, or it survives there as a duplicate.
    - A store without data (missing, or emptied by tombstones) starts
      empty; a read failure on a store that holds data propagates,
      since swallowing it would let the rewrite drop every kept row.
    - The store is read with the schema ``encode`` gives, so nothing
      is inferred, and pruned to the affected partitions."""
    spark = batch.sparkSession
    latest = last_write_wins(batch, key, value, seq_col)
    if n_blocks is not None:
        latest = latest.withColumn(part, (F.col(key) % n_blocks).cast("int"))
    seen = Observation()
    latest = latest.observe(
        seen, F.count(F.lit(1)).alias("n"), F.collect_set(part).alias("parts")
    ).localCheckpoint()
    new = encode(latest.filter(F.col(value).isNotNull()))
    store = (
        spark.read.schema(new.schema).parquet(store_dir)
        if _store_exists(spark, store_dir)
        else spark.createDataFrame([], new.schema)
    )
    ids = F.broadcast(latest.select(key))
    observed = seen.get
    affected = set(observed["parts"])
    if n_blocks is None:
        affected |= {
            r[0] for r in store.select(key, part).join(ids, key).select(part).collect()
        }
    affected = sorted(affected)
    pruned = _prune_partitions(store, part, affected)
    return _Upsert(
        latest, new, pruned.join(ids, key, "left_anti"),
        pruned.join(ids, key, "left_semi"), affected, observed["n"],
    )


def _check_query_cap(
    fn: str, queries: DataFrame, cap: int | None, guidance: str
) -> None:
    """Raise when the broadcast query side of ``fn`` holds more than
    ``cap`` rows (``None`` opts out). Counts at most ``cap + 1`` rows,
    which runs as 2 small Spark jobs (the limit's stage, then the
    count) and evaluates the query frame's lineage once."""
    if cap is not None and queries.limit(cap + 1).count() > cap:
        raise ValueError(
            f"{fn}: query side exceeds max_broadcast_queries={cap}; {guidance}"
        )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    metric: str = "cosine",
    max_broadcast_queries: int | None = 10_000,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Plan: broadcast(queries) × corpus → score → window top-k per query.
    The cross join is broadcast-nested-loop with the SMALL side broadcast
    — corpus never shuffles; the window top-k shuffles only scored rows.

    ``max_broadcast_queries`` (enforced, not advisory): the query side
    is broadcast into a nested-loop join, so its size multiplies every
    corpus partition's work AND ships to every executor — a
    million-row query frame here is an accidental O(n·m) disaster. The
    guard counts at most N+1 query rows (``_check_query_cap``: 2 small
    Spark jobs at plan build) and raises with guidance beyond the cap.
    For genuinely large query sets, chunk on your id column and union
    the results::

        parts = [brute_force_topk(corpus, queries.filter(hash(id) % C == i), ...)
                 for i in range(C)]
        out = functools.reduce(DataFrame.unionByName, parts)

    or switch to the bucketed paths (``ivf_topk`` / ``ivf_pq_topk``)
    whose query side stays broadcast-small per probed cell. Pass
    ``max_broadcast_queries=None`` to opt out (you've pre-sized it).

    ``metric='cosine'`` (default) returns (query_id, neighbor_id, score,
    rank) by cosine descending; ``metric='l2sq'`` returns (query_id,
    neighbor_id, d2, rank) by squared L2 ascending — the ground truth
    of the ADC audits. Self-matches are excluded.
    """
    _check_metric("brute_force_topk", metric)
    _check_query_cap(
        "brute_force_topk", queries, max_broadcast_queries,
        "a broadcast nested-loop join over this many queries would scan "
        "corpus × queries. Chunk the queries and union (see docstring), "
        "use ivf_topk / ivf_pq_topk, or pass max_broadcast_queries=None "
        "explicitly.",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_pairs(pairs, metric, k)


def _check_metric(fn: str, metric: str) -> None:
    if metric not in ("cosine", "l2sq"):
        raise ValueError(f"{fn}: unknown metric {metric!r}")


def _rank_pairs(pairs: DataFrame, metric: str, k: int) -> DataFrame:
    """Score (query_id, neighbor_id, qvec, cvec) pairs by ``metric`` and
    keep each query's top k: (query_id, neighbor_id, score | d2, rank)."""
    if metric == "l2sq":
        # zip_with pads the shorter array with nulls, so vectors of
        # unequal length score a null distance
        col, order = "d2", ["d2", "neighbor_id"]
        scored = pairs.withColumn(col, F.aggregate(
            F.zip_with("qvec", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ))
    else:
        col, order = "score", ["-score", "neighbor_id"]
        scored = pairs.withColumn(col, cosine("qvec", "cvec"))
    return topk_rows(scored, "query_id", order, k).select(
        "query_id", "neighbor_id", col, "rank"
    )


def topk_rows(
    df: DataFrame, part: str | list[str], order: list[str], k: int
) -> DataFrame:
    """The k best rows of ``df`` per ``part`` value, numbered 1..k in a
    ``rank`` column (which replaces any ``rank`` column of ``df``).
    ``part`` is one column or a list of them; an empty list ranks the
    whole frame as one group.

    ``order`` names the sort keys best first: the score, then the id
    that breaks its ties. A leading ``-`` sorts a key descending. Every
    key sorts nulls last, as DuckDB's ``ROW_NUMBER`` does by default (a
    bare Spark ``asc()`` sorts nulls first), so a null score (a short
    vector that ``zip_with`` pads) never outranks a real one."""
    keys = [
        F.col(o[1:]).desc_nulls_last() if o.startswith("-")
        else F.col(o).asc_nulls_last()
        for o in order
    ]
    w = Window.partitionBy(part).orderBy(*keys)
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def recall_arm(
    labels: list[Column],
    gt: DataFrame,
    found: DataFrame,
    on: list[str],
    candidates: DataFrame | None = None,
) -> DataFrame:
    """One graded row of a recall audit: ``*labels``, then
    [n_candidates], n_hits, n_possible, recall.

    ``n_hits`` counts the ground-truth rows ``gt`` that ``found`` holds
    (a semi-join on ``on``), ``n_possible`` all rows of ``gt``, and
    ``recall`` is their ratio to 6 places; ``n_candidates`` counts the
    rows of ``candidates`` (pass ``.distinct()`` to count distinct
    ones). The counts are global aggregates, so an arm with no hits
    still yields its row, with ``n_hits`` 0."""
    tot = gt.agg(F.count(F.lit(1)).alias("n_possible"))
    hits = gt.join(found, on, "left_semi").agg(F.count(F.lit(1)).alias("n_hits"))
    if candidates is None:
        row, n_cand = hits.crossJoin(F.broadcast(tot)), []
    else:
        row = (
            candidates.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(F.broadcast(hits))
            .crossJoin(F.broadcast(tot))
        )
        n_cand = ["n_candidates"]
    return row.select(
        *labels,
        *n_cand,
        "n_hits",
        "n_possible",
        F.round(F.col("n_hits") / F.col("n_possible"), 6).alias("recall"),
    )


def cell_centroids(
    corpus: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell mean vector — the IVF coarse-quantizer codebook,
    computed from the corpus itself. Shape: posexplode to (cell, dim,
    x) rows, map-side-combined avg per (cell, dim), then re-assemble
    the array in dimension order. Output is n_cells rows (tiny —
    always broadcastable)."""
    per_dim = (
        corpus.select(
            F.col(cell_col).alias("cell"),
            F.posexplode(F.col(vec_col)).alias("d", "x"),
        )
        .groupBy("cell", "d")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    return (
        per_dim.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("d"), F.col("m")))
            ).alias("dm")
        )
        .select(
            "cell", F.transform(F.col("dm"), lambda s: s.getField("m")).alias("centroid")
        )
    )


def ivf_cell_count(
    n_vectors: int, min_cells: int = 8, max_cells: int = 1 << 18
) -> int:
    """√n sizing rule for the IVF coarse quantizer (VERDICT r5 #7 —
    a formula, not a constant).

    With c cells and ``n_probe`` probes, a query scans ≈ n_probe·n/c
    candidates while the quantizer itself costs c centroid comparisons
    (broadcast, per query). Total per-query work n_probe·n/c + c is
    minimized at c = √(n_probe·n) — hence c ≈ √n as the default, the
    same rule FAISS documents for IndexIVF training. Consequences at
    scale: candidate-set size per probe stays √n (flat latency growth
    measured in PERF.md r6: 10× corpus → ~3× candidates, not 10×), and
    the centroid table stays √n rows — broadcastable even at 10⁹
    vectors (√10⁹ ≈ 32k × dim doubles ≈ few MB). Recall is then tuned
    by n_probe alone (linear cost knob), not by re-training the index.

    Bounds: ``min_cells`` keeps tiny corpora from degenerating to one
    cell; ``max_cells`` caps the broadcastable centroid table. Cells
    should hold ≳ 100 vectors for trainable centroids — callers with
    n < ~10⁴ are better served by brute force (which this module keeps
    as the oracle path anyway)."""
    import math

    return max(min_cells, min(max_cells, int(round(math.sqrt(n_vectors)))))


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_cell_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid cell assignment — the IVF INDEX BUILD step
    (one k-means assignment pass). Centroids broadcast; the corpus is
    scored against every centroid (n_cells fixed-width rows per vector)
    and reduced to the argmax with ``max_by`` in one hash aggregate.
    Cost: one shuffle of (id, cell, score) rows — a one-time build,
    amortized over every subsequent probe; re-run assign+centroids for
    more k-means refinement iterations."""
    scored = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("_cd", cosine("_v", "centroid"))
    )
    assigned = scored.groupBy("_id").agg(
        F.max_by("cell", F.col("_cd")).alias(out_cell_col),
        F.first("_v").alias("_v"),
    )
    return assigned.select(
        F.col("_id").alias(id_col),
        F.col("_v").alias(vec_col),
        out_cell_col,
    )


def multiprobe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Expand each query to its ``n_probe`` nearest centroid cells
    (cosine). centroids is broadcast (n_cells rows); the output is
    n_queries × n_probe rows — still tiny, still broadcastable into
    the corpus join."""
    scored = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "_cd", cosine(query_vec_col, "centroid")
    )
    return topk_rows(scored, query_id_col, ["-_cd", "cell"], n_probe).select(
        query_id_col, query_vec_col, "cell"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_cell_col: str = "label",
    n_probe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: score only corpus vectors in the query's cell(s).

    The cell assignment is any coarse quantizer — a KMeans centroid id,
    an LSH bucket, or (as in the driver's ``embeddings`` table) a
    precomputed ``label``. The join on cell id prunes the candidate set
    before any scoring; with the corpus parquet partitioned by cell the
    pruning is a metadata operation.

    Multiprobe: with ``centroids`` (from ``cell_centroids``) and
    ``n_probe`` > 1, each query probes its ``n_probe`` nearest centroid
    cells instead of only its own — the standard IVF recall knob. Cost
    scales linearly in ``n_probe`` (n_probe/n_cells of the corpus is
    scanned); the probe expansion happens on the broadcast side, the
    corpus plan is unchanged.

    Exactness: recall < 1 by construction (neighbors outside the probed
    cells are missed) — that is the documented ANN trade-off; measured
    recall@k vs n_probe lives in PERF.md (tools/scale_probe.py).
    """
    if n_probe > 1 and centroids is None:
        raise ValueError("n_probe > 1 requires centroids (see cell_centroids)")
    if centroids is not None:
        q = multiprobe_cells(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("qvec"),
            ),
            centroids,
            n_probe,
        )
    else:
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
            F.col(query_cell_col).alias("cell"),
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", cosine("qvec", "cvec"))
    )
    return topk_rows(scored, "query_id", ["-score", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "score", "rank"
    )


def _flat_l2sq(a: str, b: str, sub_len: int) -> Column:
    """Σ (aᵢ-bᵢ)² as a FLAT codegen expression (element_at chain,
    left-associated — the same sequential fold order as the HOF
    aggregate and DuckDB's list_sum, so values are bit-identical).
    The nested zip_with/aggregate HOF form evaluates interpreted
    (the repo's measured 13× cliff, functions/dedup.py:79-82);
    sub_len is known at plan-build time, so the loop unrolls."""
    terms = [
        (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i))
        for i in range(1, sub_len + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def subvectors(
    df: DataFrame,
    num_subspaces: int,
    sub_len: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_short: str = "drop",
) -> DataFrame:
    """Split each vector into ``num_subspaces`` contiguous subvectors of
    ``sub_len`` dims → (id, m, sv) rows with sv cast to double. The PQ
    decomposition step; narrow (explode only, no shuffle).

    ``on_short`` decides what happens to vectors shorter than
    ``num_subspaces × sub_len`` (a short sv would make element_at in
    the distance arithmetic return NULL and corrupt the argmin without
    an error, so they never pass through silently):

    - ``'drop'`` (default, corpus side): filter them out — an ANN
      trade-off a corpus owner accepts and can audit.
    - ``'error'`` (query side in pq_adc_topk / ivf_pq_topk): raise at
      execution with the offending id — a malformed QUERY silently
      vanishing from the results is an input error, not a trade-off.
    """
    needed = num_subspaces * sub_len
    if on_short == "error":
        vec = F.when(F.size(F.col(vec_col)) >= needed, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"subvectors: vector shorter than {needed} "
                        f"(= {num_subspaces} subspaces × {sub_len} dims) for id "
                    ),
                    F.col(id_col).cast("string"),
                )
            )
        )
        base = df
    elif on_short == "drop":
        vec = F.col(vec_col)
        base = df.filter(F.size(F.col(vec_col)) >= needed)
    else:
        raise ValueError(f"on_short must be 'drop' or 'error', got {on_short!r}")
    parts = F.transform(
        F.sequence(F.lit(0), F.lit(num_subspaces - 1)),
        lambda m: F.transform(
            F.slice(vec, m * sub_len + 1, sub_len),
            lambda x: x.cast("double"),
        ),
    )
    return base.select(F.col(id_col).alias("id"), F.posexplode(parts).alias("m", "sv"))


def pq_train(
    corpus: DataFrame,
    num_subspaces: int,
    sub_len: int,
    num_codes: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_means: int | None = None,
) -> DataFrame:
    """Train a PQ codebook: independent k-means per subspace (the
    standard construction — Jégou et al.'s product quantization trains
    one ``num_codes``-centroid quantizer per contiguous subvector).

    Init: the subvectors of the ``num_codes`` smallest-id corpus rows
    (deterministic across runs/engines). Each iteration is one
    assignment pass (broadcast codebook → per-(id, m) argmin, the same
    struct-min hash aggregate as ``pq_encode``) and one update pass
    (per-(m, code) dimension means via posexplode — map-side combined).
    Codes that lose all members keep their previous centroid.

    Scale: the corpus is scanned once per iteration with only
    fixed-width aggregates — no corpus-wide shuffle beyond the
    (id, m) argmin. The codebook itself is tiny (num_subspaces ×
    num_codes rows) and is COLLECTED to the driver each iteration to
    truncate the iterative lineage (the MLlib k-means pattern: per-step
    aggregate to driver, rebroadcast) — O(iters × codebook) driver
    traffic, independent of corpus size.

    Returns (m, code, c): the trained codebook for ``pq_encode`` /
    ``pq_adc_topk`` / ``ivf_pq_topk``.
    """
    if num_codes < 1 or iters < 0:
        raise ValueError("num_codes must be ≥ 1 and iters ≥ 0")
    spark = corpus.sparkSession
    sub = subvectors(corpus, num_subspaces, sub_len, id_col, vec_col)
    # deterministic init: subvectors of the num_codes smallest ids,
    # code = rank of id (tiny frame — the window runs on ≤ num_codes rows)
    seed_ids = corpus.select(F.col(id_col).alias("id")).orderBy("id").limit(num_codes)
    wseed = Window.orderBy("id")
    seed_codes = seed_ids.withColumn("code", F.row_number().over(wseed) - 1)
    codebook = (
        sub.join(F.broadcast(seed_codes), "id")
        .select("m", "code", F.col("sv").alias("c"))
    )
    for _ in range(iters):
        assigned = (
            sub.join(F.broadcast(codebook), "m")
            .withColumn("d2", _flat_l2sq("sv", "c", sub_len))
            .groupBy("id", "m")
            .agg(
                F.min(F.struct(F.col("d2"), F.col("code"))).alias("b"),
                F.first("sv").alias("sv"),
            )
            .select("m", F.col("b.code").alias("code"), "sv")
        )
        mu = F.avg("x")
        if round_means is not None:
            # quantize the update step so an engine-replica oracle can
            # follow the SAME trajectory: float-sum ORDER inside avg()
            # differs across engines, and an unrounded last-ulp wobble
            # can flip a near-tie assignment next iteration
            mu = F.round(mu, round_means)
        per_dim = (
            assigned.select("m", "code", F.posexplode("sv").alias("d", "x"))
            .groupBy("m", "code", "d")
            .agg(mu.alias("mu"))
        )
        new_cb = (
            per_dim.groupBy("m", "code")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("d"), F.col("mu")))
                ).alias("dm")
            )
            .select(
                "m",
                "code",
                F.transform(F.col("dm"), lambda s: s.getField("mu")).alias("c"),
            )
        )
        merged = (
            codebook.alias("old")
            .join(new_cb.alias("new"), ["m", "code"], "left")
            .select(
                "m", "code", F.coalesce(F.col("new.c"), F.col("old.c")).alias("c")
            )
        )
        # truncate lineage: the codebook is tiny by construction
        rows = [(r["m"], r["code"], [float(x) for x in r["c"]]) for r in merged.collect()]
        codebook = spark.createDataFrame(rows, "m int, code int, c array<double>")
    return codebook


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    num_subspaces: int,
    sub_len: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization: each vector's subvector m is replaced by
    the id of its nearest codebook centroid (L2²) — D floats compress
    to ``num_subspaces`` small ints, the standard memory/IO scale path
    for billion-vector ANN (codes are scanned, full vectors fetched
    only for rerank).

    ``codebook``: (m, code, c) rows — per-subspace centroids, always
    tiny (num_subspaces × n_codes) → broadcast; the corpus flows
    scan → subvector explode → broadcast join → per-(id, m) argmin via
    one struct-min hash aggregate. No corpus-wide shuffle beyond the
    fixed-width (id, m, code) aggregate.

    Returns (id, m, code, qerr): the code per subspace and its squared
    quantization error. Ties on distance break toward the smaller code
    (struct ordering), engine-portable for the oracle.
    """
    sub = subvectors(corpus, num_subspaces, sub_len, id_col, vec_col)
    scored = sub.join(F.broadcast(codebook), "m").withColumn(
        "d2", _flat_l2sq("sv", "c", sub_len)
    )
    best = scored.groupBy("id", "m").agg(
        F.min(F.struct(F.col("d2"), F.col("code"))).alias("b")
    )
    return best.select(
        F.col("id").alias(id_col),
        "m",
        F.col("b.code").alias("code"),
        F.col("b.d2").alias("qerr"),
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    num_subspaces: int,
    sub_len: int,
    k: int = 10,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    codes_id_col: str = "vec_id",
    codes_cell_col: str | None = None,
    query_cell_col: str | None = None,
    query_cells: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric distance computation over PQ codes — the search half
    of product quantization: the query stays full-precision, each
    corpus vector is its 8-byte code word, and the approximate L2²
    distance is a table lookup sum.

    Plan: per-query distance TABLE (query subvector × codebook
    centroid, n_queries × num_subspaces × n_codes rows — tiny,
    broadcast) joins the codes frame on (m, code); one hash aggregate
    sums the per-subspace lookups into the approximate distance. The
    corpus-side input is the compressed codes, never the raw vectors —
    the memory/IO win that makes billion-vector scans feasible; rerank
    the returned candidates against full vectors if exactness matters.

    Returns (query_id, neighbor_id, adc_d2, rank), ranked by the
    6-dp-rounded distance (engine-portable) ascending, self excluded.
    ``codes_id_col`` names the id column of the codes frame (pq_encode
    with a non-default ``id_col`` carries that name through). A short
    QUERY vector raises with its id (on_short='error') — a missing
    query is an input error, not an ANN trade-off.

    With ``codes_cell_col``/``query_cell_col`` set, the cell becomes an
    extra equi-key of the ADC join — the IVF-PQ serving read: each
    query scores ONLY codes in its assigned cell(s), so a
    cell-partitioned code store prunes at the scan (used by
    ``streaming_ivfpq_index_maintenance``; ``ivf_pq_topk`` is the
    variant that derives probe cells from centroids instead of taking
    them as a column).

    ``query_cells`` (VERDICT r12 #6) generalizes the single-cell pairing
    to real nprobe>1 serving: a (query_id, cell) relation with up to
    ``n_probe`` rows per query (e.g. ``multiprobe_cells`` output, or
    cells read from a routing table). Each corpus code lives in exactly
    ONE cell, so a (query, vec) pair matches at most one probed cell
    and the per-subspace lookup sum stays exact — no dedup stage
    needed. Requires ``codes_cell_col``; mutually exclusive with
    ``query_cell_col``. The probed relation is queries×n_probe rows —
    broadcast, like the distance table it joins into.
    """
    qsub = subvectors(
        queries, num_subspaces, sub_len, query_id_col, query_vec_col,
        on_short="error",
    )
    dtab = (
        qsub.join(F.broadcast(codebook), "m")
        .withColumn("qd", _flat_l2sq("sv", "c", sub_len))
        .select(F.col("id").alias("query_id"), "m", "code", "qd")
    )
    if query_cells is not None:
        if query_cell_col is not None:
            raise ValueError(
                "pq_adc_topk: query_cells and query_cell_col are mutually "
                "exclusive — pass the probed (query_id, cell) relation OR "
                "a single-cell query column, not both"
            )
        if codes_cell_col is None:
            raise ValueError(
                "pq_adc_topk: query_cells requires codes_cell_col — "
                "without the store-side cell key the probed cells would "
                "silently not prune anything"
            )
    elif (codes_cell_col is None) != (query_cell_col is None):
        raise ValueError(
            "pq_adc_topk: codes_cell_col and query_cell_col must be set "
            "together — a half-specified pairing would silently skip the "
            "cell prune and score every query against ALL cells"
        )
    join_keys = ["m", "code"]
    if codes_cell_col is not None:
        if query_cells is not None:
            # contract: (query_id, cell) — multiprobe_cells output
            # shape. DISTINCT is load-bearing: a duplicate probed row
            # (an at-least-once routing table, a union of probe
            # sources) would double that cell's per-subspace lookup
            # sums and corrupt the cross-cell ranking (r13 self-review)
            qcells = query_cells.select(
                "query_id", F.col("cell").alias("_qcell")
            ).distinct()
        else:
            qcells = queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_cell_col).alias("_qcell"),
            )
        dtab = dtab.join(F.broadcast(qcells), "query_id")
        codes = codes.withColumnRenamed(codes_cell_col, "_qcell")
        join_keys = ["m", "code", "_qcell"]
    adc = (
        codes.join(F.broadcast(dtab), join_keys)
        .groupBy("query_id", F.col(codes_id_col).alias("neighbor_id"))
        .agg(F.round(F.sum("qd"), 6).alias("adc_d2"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return topk_rows(adc, "query_id", ["adc_d2", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "adc_d2", "rank"
    )


def ivf_pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    num_subspaces: int,
    sub_len: int,
    n_probe: int = 1,
    k: int = 10,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    codes_id_col: str = "vec_id",
) -> DataFrame:
    """IVF + PQ — the production billion-vector ANN stack composed from
    the audited pieces: the query probes its ``n_probe`` nearest
    centroid cells (IVF pruning: only n_probe/n_cells of the code frame
    is touched), and candidates are scored by asymmetric distance over
    their PQ code words (8 ints per vector scanned, never raw floats).

    ``codes``: (vec_id, m, code, cell) — pq_encode output joined with
    the cell assignment; at scale this frame is parquet-partitioned by
    cell so the probe prunes at the scan. Everything query-side
    (centroids, probe expansion, distance table) is broadcast; the one
    wide operation is the per-(query, vec) hash aggregate over probed
    candidates. Returns (query_id, neighbor_id, adc_d2, rank) by
    6-dp-rounded approximate L2² ascending, self excluded.
    ``codes_id_col`` names the id column of the codes frame; a short
    QUERY vector raises with its id (on_short='error')."""
    # ONE ADC kernel (r13 self-review): the centroid-derived case is
    # just pq_adc_topk's query_cells path with multiprobe expansion —
    # keeping a second hand-rolled join here meant every ADC fix had
    # to land twice or the serving paths diverged.
    probed = multiprobe_cells(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        ),
        centroids,
        n_probe,
    )
    return pq_adc_topk(
        codes, queries, codebook, num_subspaces, sub_len, k=k,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        codes_id_col=codes_id_col, codes_cell_col="cell",
        query_cells=probed,
    )


def with_residuals(
    indexed: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Replace each vector with its RESIDUAL against its cell centroid
    (vec − centroid[cell]) — the FAISS IndexIVFPQ construction: PQ
    codebooks trained/encoded on residuals resolve WITHIN-cell
    structure, where raw-vector PQ collapses a tight cell to one code
    word per subspace and ADC degenerates to ties (measured: recall@10
    ≈ 0.02 raw vs ≥0.9 residual on clustered corpora, PERF.md r5).

    centroids: (cell, centroid) from ``cell_centroids`` — broadcast.
    Output keeps ``vec_col``'s name (now double residuals) so
    ``pq_train`` / ``pq_encode`` compose unchanged, and keeps
    ``cell_col`` for the codes frame. The zip_with subtract is an
    interpreted HOF but runs once per corpus row on the one-time encode
    path (not per candidate pair) — not the measured 13× hot-loop
    cliff."""
    c = centroids.select(F.col("cell").alias(cell_col), "centroid")
    res = F.zip_with(
        F.col(vec_col), F.col("centroid"),
        lambda a, b: a.cast("double") - b.cast("double"),
    )
    return (
        indexed.join(F.broadcast(c), cell_col)
        .select(F.col(id_col), F.col(cell_col), res.alias(vec_col))
    )


def ivf_pq_residual_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    num_subspaces: int,
    sub_len: int,
    n_probe: int = 1,
    k: int = 10,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    codes_id_col: str = "vec_id",
) -> DataFrame:
    """IVF + residual-PQ — the production IndexIVFPQ search: each
    probed cell gets its OWN query residual (q − centroid[cell]), whose
    per-subspace distance table scores that cell's residual-encoded
    codes. ``codes`` must come from ``pq_encode`` over
    ``with_residuals(...)`` output (and carry ``cell``); ``codebook``
    from ``pq_train`` on the same residual frame.

    Plan shape matches ivf_pq_topk — everything query-side (probe
    expansion, per-(query, cell) residuals, distance tables) stays
    broadcast (n_queries × n_probe × num_subspaces × n_codes rows);
    the corpus side scans only probed cells' code words. The residual
    subtract runs on n_queries × n_probe rows — negligible.

    Returns (query_id, neighbor_id, adc_d2, rank) by 6-dp-rounded
    approximate L2² of residuals ascending, self excluded."""
    probed = multiprobe_cells(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        ),
        centroids,
        n_probe,
    )
    qres = probed.join(F.broadcast(centroids), "cell").select(
        F.struct(F.col("query_id"), F.col("cell")).alias("qc"),
        F.zip_with(
            F.col("qvec"), F.col("centroid"),
            lambda a, b: a.cast("double") - b.cast("double"),
        ).alias("rvec"),
    )
    qsub = subvectors(
        qres, num_subspaces, sub_len, id_col="qc", vec_col="rvec",
        on_short="error",
    )
    dtab = (
        qsub.join(F.broadcast(codebook), "m")
        .withColumn("qd", _flat_l2sq("sv", "c", sub_len))
        .select(
            F.col("id.query_id").alias("query_id"),
            F.col("id.cell").alias("cell"),
            "m",
            "code",
            "qd",
        )
    )
    cand = codes.join(
        F.broadcast(probed.select("query_id", "cell")), "cell"
    )
    adc = (
        cand.join(F.broadcast(dtab), ["query_id", "cell", "m", "code"])
        .groupBy("query_id", F.col(codes_id_col).alias("neighbor_id"))
        .agg(F.round(F.sum("qd"), 6).alias("adc_d2"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return topk_rows(adc, "query_id", ["adc_d2", "neighbor_id"], k).select(
        "query_id", "neighbor_id", "adc_d2", "rank"
    )


def rerank_topk(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact full-vector rerank of an ANN candidate set — the second
    half of the standard coarse-then-exact production pattern: a cheap
    wide-net pass (IVF / PQ / LSH, candidates ≫ k) followed by true
    distance on ONLY the candidate (query, neighbor) pairs.

    ``candidates``: (query_id, neighbor_id) rows. The full vectors are
    fetched by equi-join on the candidate ids — the corpus is touched
    only for candidate rows (at scale: a semi-join pushed to the
    vector store / parquet scan), and the query side is broadcast.
    ``metric='cosine'`` (default) returns (query_id, neighbor_id,
    score, rank) by exact cosine descending; ``metric='l2sq'`` returns
    (query_id, neighbor_id, d2, rank) by exact squared-L2 ASCENDING —
    the honest rerank for an ADC shortlist, which approximates L2²
    (r14 IVF-PQ serving pipeline)."""
    _check_metric("rerank_topk", metric)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qvec")
    )
    paired = (
        candidates.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
    )
    return _rank_pairs(paired, metric, k)


def hyperplane_lsh_buckets(
    df: DataFrame,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    plane_offset: int = 0,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign-of-dot-product
    sketch). Hyperplane components are deterministic pseudo-randoms
    derived from md5(plane:dim) so the bucketing is reproducible across
    engines and runs (no RNG state to ship).

    Returns (id, bucket) where bucket is a bit-string of length
    ``num_planes``. Used as the cell assignment for ``ivf_topk`` when no
    precomputed cells exist.

    Shape (r9 rework): the hyperplane components depend only on
    (plane, dim) — 512 doubles for an 8-plane 64-dim family — so they
    are computed DRIVER-SIDE with hashlib (the first two hex digits of
    md5('p:d') as an integer in [0, 255], scaled to [-1, 1] — the same
    derivation the SQL oracle spells with per-digit ascii arithmetic)
    and baked in as LITERAL arrays. The
    whole bucketing is then a NARROW per-row projection: one
    zip_with/aggregate fold per plane, zero md5 calls at runtime, zero
    posexplode, zero exchange (the previous rendition md5-hashed
    25.6M tiny strings at the 50k probe — 14 s of pure recomputation
    of 512 constants). The fold accumulates in ascending-dimension
    order — the same float addition order as the posexplode partial
    sum it replaces, so bucket values (and oracle hashes) are
    unchanged.
    """
    import hashlib

    # plane_offset selects an independent BAND: band b's planes are ids
    # [offset, offset + num_planes) in the same md5-derived family, so
    # multi-band callers (OR-amplified LSH, NN-descent seeding) get
    # statistically independent bucketings with zero new machinery.
    def components(p: int) -> list[float]:
        out = []
        for d in range(dim):
            hv = int(
                hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:2], 16
            )
            out.append((float(hv) / 255.0) * 2.0 - 1.0)
        return out

    v = F.col(vec_col)
    bits = []
    for p in range(plane_offset, plane_offset + num_planes):
        comp = F.array(*[F.lit(c) for c in components(p)])
        # coalesce keeps short vectors contributing nothing for missing
        # dims (the posexplode rendition simply had no such rows)
        s = F.aggregate(
            F.zip_with(
                v, comp,
                lambda x, c: F.coalesce(x.cast("double") * c, F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(
        F.col(id_col).alias("id"), F.concat(*bits).alias("bucket")
    )


def kmeans_lloyd_step(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """One spherical k-means Lloyd iteration (assign → re-estimate) over
    fixed deterministic seeds (the ``k`` smallest-id vectors) → long-form
    new centroids (cell, dim, mean_x, n_members).

    The clustering primitive behind every "cells at scale" claim in this
    module (`assign_cells` docstrings, SemDeDup cells, IVF codebooks):
    assignment is a broadcast of the k seed vectors scored against the
    corpus with a struct-min argmax (deterministic tiebreak: highest
    cosine, then smallest cell id — `max_by` alone would tie-break
    arbitrarily), re-estimation is the same posexplode + map-side-combined
    avg as `cell_centroids`. Cost per iteration: one corpus scan + one
    (id)-keyed shuffle + one fixed-width (cell, dim) aggregation — the
    MLlib iteration shape. Chain calls (feeding means back as seeds) for
    full training; `pq_train` applies the same loop per subspace.
    """
    if seeds is None:
        seeds = (
            emb.orderBy(id_col)
            .limit(k)
            .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid"))
        )
    scored = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(seeds))
        .withColumn("_cd", cosine("_v", "centroid"))
    )
    best = scored.groupBy("_id").agg(
        F.min(
            F.struct((-F.col("_cd")).alias("nd"), F.col("cell").alias("c"))
        ).alias("b"),
        F.first("_v").alias("_v"),
    )
    assigned = best.select(F.col("b.c").alias("cell"), F.col("_v").alias("_v"))
    return (
        assigned.select("cell", F.posexplode("_v").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("mean_x"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def lsh_topk_directed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    k: int = 3,
    bucket_cap: int = 256,
    bands: int = 1,
) -> DataFrame:
    """DIRECTED per-node top-``k`` neighbor lists from ``bands``
    independent LSH rounds (OR-amplification): each band buckets the
    corpus with its own ``num_planes`` hyperplanes (band b = plane ids
    [b·num_planes, (b+1)·num_planes)), candidate pairs are the union
    of the bands' within-bucket pairs, and exact cosine keeps each
    node's ``k`` best → (src, dst, score, rank). The seed stage shared
    by ``knn_graph_mutual`` (mutual filter on top) and
    ``nn_descent_refine`` (neighbor-of-neighbor expansion on top —
    which NEEDS ≥ 2 bands: with one band every seed edge stays inside
    one bucket, so the two-hop expansion can never propose a candidate
    the seed round didn't already score).

    Candidate generation is a bucket equi-JOIN of id/bucket pairs per
    band — no corpus broadcast, vectors join in once for scoring;
    per-bucket membership is capped at ``bucket_cap`` by deterministic
    md5 rank (degenerate-bucket guard).
    """
    from kafka_sink_azure_kusto_spark.functions.sampling import (
        md5_unit_interval,
    )

    # per-vector norms are computed ONCE (corpus cardinality) before
    # any pair exists; the pair stage then pays a single flat codegen
    # dot product — never the interpreted fold, never a re-derived norm
    vecs = df.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("v"),
    ).withColumn("vn", l2_norm("v"))
    scored_parts = []
    for b in range(bands):
        buckets = hyperplane_lsh_buckets(
            df, num_planes=num_planes, id_col=id_col, vec_col=vec_col,
            plane_offset=b * num_planes,
        ).withColumnRenamed("id", "nid")
        # vectors ride ALONG the bucket exchange (each vector ships once
        # per band) and the pair score is computed and projected away in
        # the join stage itself — scoring pairs by re-joining the vector
        # table later would sort PAIR-cardinality rows with vector
        # payloads attached (measured: OOM at the 50k probe; this shape
        # peaks at corpus-cardinality payload rows instead).
        capped = topk_rows(
            vecs.join(buckets, "nid").withColumn(
                "_h", md5_unit_interval(F.col("nid"), salt="knncap:")
            ),
            "bucket", ["_h", "nid"], bucket_cap,
        ).select("nid", "v", "vn", "bucket")
        scored_parts.append(
            capped.select(F.col("nid").alias("src"),
                          F.col("v").alias("sv"),
                          F.col("vn").alias("sn"), "bucket")
            .join(
                capped.select(F.col("nid").alias("dst"),
                              F.col("v").alias("dv"),
                              F.col("vn").alias("dn"), "bucket"),
                "bucket",
            )
            .filter(F.col("src") != F.col("dst"))
            .select(
                "src", "dst",
                (dot("sv", "dv") / (F.col("sn") * F.col("dn")))
                .alias("score"),
            )
        )
    scored = scored_parts[0]
    for p in scored_parts[1:]:
        scored = scored.unionByName(p)
    if bands > 1:
        # the same pair found by two bands carries the identical
        # deterministic score — plain distinct dedups it
        scored = scored.distinct()
    return topk_rows(scored, "src", ["-score", "dst"], k)


def nn_descent_refine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    k: int = 3,
    bucket_cap: int = 256,
    bands: int = 2,
    seed: DataFrame | None = None,
) -> DataFrame:
    """ONE NN-descent refinement round over the LSH-seeded k-NN lists
    (Dong et al.'s "a neighbor of a neighbor is likely a neighbor"):
    candidates = current top-k ∪ two-hop expansion through the
    UNDIRECTED neighbor sets (forward lists ∪ reverse lists, reverse
    in-degree capped at ``k`` by score rank — the bounded-fan-out
    guard NN-descent implementations call reverse sampling), re-scored
    with exact cosine and re-ranked → (src, dst, score, rank,
    improved) where ``improved`` flags nodes whose k-th neighbor got
    strictly better than the seed round's.

    Scale shape: everything is an equi-join on node ids. Per node the
    undirected neighbor set is ≤ 2k, so the two-hop expansion fans out
    ≤ 4k² candidate rows per node — independent of corpus size; the
    exact-score stage joins the (node-keyed) candidate list back to
    the vector table twice, shuffling on ids both times. Iterating
    this function converges the graph; one round is the gated unit
    (same policy as kmeans_lloyd_step: the STEP is the operator).
    """
    if seed is None:
        # reused by 4 branches; ≤ k rows per node. Callers that already
        # built the (materialized) seed — e.g. the recall audit, which
        # grades it separately — pass it in instead of rebuilding.
        seed = lsh_topk_directed(
            df, id_col=id_col, vec_col=vec_col,
            num_planes=num_planes, k=k, bucket_cap=bucket_cap, bands=bands,
        ).localCheckpoint()
    fwd = seed.select("src", "dst")
    rev = topk_rows(seed, "dst", ["-score", "src"], k).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    nbrs = fwd.unionByName(rev).distinct()
    hop2 = (
        nbrs.alias("a")
        .join(
            nbrs.select(
                F.col("src").alias("mid"), F.col("dst").alias("dst2")
            ).alias("b"),
            F.col("a.dst") == F.col("b.mid"),
        )
        .filter(F.col("a.src") != F.col("b.dst2"))
        .select(F.col("a.src").alias("src"), F.col("b.dst2").alias("dst"))
    )
    cand = fwd.unionByName(hop2).distinct()
    vecs = df.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v")
    ).withColumn("_vn", l2_norm("_v"))
    scored = (
        cand.join(vecs.select(F.col("_vid").alias("src"),
                              F.col("_v").alias("sv"),
                              F.col("_vn").alias("sn")), "src")
        .join(vecs.select(F.col("_vid").alias("dst"),
                          F.col("_v").alias("dv"),
                          F.col("_vn").alias("dn")), "dst")
        .select(
            "src", "dst",
            (dot("sv", "dv") / (F.col("sn") * F.col("dn")))
            .alias("score"),
        )
    )
    refined = topk_rows(scored, "src", ["-score", "dst"], k)
    seed_kth = seed.groupBy("src").agg(F.min("score").alias("seed_kth"))
    return (
        refined.join(seed_kth, "src", "left")
        .select(
            "src",
            "dst",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("long").alias("rank"),
            (
                (F.col("rank") == k) & (F.col("score") > F.col("seed_kth"))
            ).alias("improved"),
        )
        .withColumn("improved", F.coalesce("improved", F.lit(False)))
    )


def knn_graph_mutual(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    k: int = 3,
    bucket_cap: int = 256,
) -> DataFrame:
    """Mutual k-NN GRAPH construction over an embedding corpus — the
    building block for NN-descent refinement, graph clustering, and
    SemDeDup-style cluster seeding: every vector finds its top-``k``
    cosine neighbors among its LSH-bucket candidates, and an edge
    survives only when BOTH endpoints rank each other (mutual-kNN, the
    standard noise filter) → (src, dst, score, rank_src, rank_dst)
    with src < dst.

    Differs from ``ivf_topk`` in join shape: there the query set is
    small and broadcasts; here EVERY vector is a query, so the
    candidate stage is a plain bucket equi-JOIN of the corpus with
    itself — both sides shuffle once on the bucket key, per-bucket
    fan-out is bounded by ``bucket_cap`` (deterministic membership by
    md5 rank, the repo's standard degenerate-bucket guard), and the
    mutual filter is an equi-join of two top-k relations on the
    reversed edge key. Nothing broadcasts the corpus; nothing is
    quadratic beyond cap² per bucket. 100 TB shape: buckets ≈ 2^planes
    partitions the corpus; raise ``num_planes`` with corpus size.
    """
    # materialize the ≤ k-per-node lists once — the mutual self-join
    # would otherwise execute the whole bucket-scoring pipeline twice
    topk = lsh_topk_directed(
        df, id_col=id_col, vec_col=vec_col,
        num_planes=num_planes, k=k, bucket_cap=bucket_cap,
    ).localCheckpoint()
    x, y = topk.alias("x"), topk.alias("y")
    mutual = x.join(
        y,
        (F.col("x.src") == F.col("y.dst")) & (F.col("x.dst") == F.col("y.src")),
    ).filter(F.col("x.src") < F.col("x.dst"))
    return mutual.select(
        F.col("x.src").alias("src"),
        F.col("x.dst").alias("dst"),
        F.round(F.col("x.score"), 6).alias("score"),
        F.col("x.rank").cast("long").alias("rank_src"),
        F.col("y.rank").cast("long").alias("rank_dst"),
    )


def ivf_index_upsert(
    batch: DataFrame,
    idx_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cell_col: str = "cell",
    seq_col: str | None = None,
) -> list:
    """Apply ONE batch of upserts/tombstones to a cell-partitioned
    parquet IVF index — the maintenance kernel behind both the batch
    diff-driven rewrite (``similarity_index_incremental_update``) and
    the live streaming loop (``streaming_ivf_index_maintenance``).

    ``batch`` rows: (id, vec, cell); a NULL vector is a TOMBSTONE
    (delete this id from its cell — the Kafka null-value convention).
    The cell is carried, so a re-embedded vector may move cells.
    ``_upsert_head`` resolves the batch (last write wins, by
    ``seq_col`` when given), finds the affected cells and reads the
    rows they keep; its live rows and those rows replace the affected
    cells through ``_rewrite_partitions``, so a batch costs |affected
    cells| of I/O, never |index|. Returns the cells the batch emptied.
    """
    b = batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.col(cell_col).alias("cell"),
        *([seq_col] if seq_col else []),
    )
    up = _upsert_head(
        b, idx_dir, lambda live: live, "vec_id", "v", "cell", seq_col=seq_col
    )
    return _rewrite_partitions(
        up.keep.unionByName(up.new), idx_dir, "cell", up.affected
    )


def knn_graph_build_exact(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact directed kNN adjacency (src, dst, score, block) — the
    invariant ``knn_graph_upsert`` maintains: per node, the top-``k``
    corpus neighbors by (cosine DESC, dst ASC), self excluded, with
    ``block = src % n_blocks`` as the adjacency partition key. Exact
    build is all-pairs; the upsert path exists precisely so this runs
    once (or per bounded frontier), never per batch."""
    from kafka_sink_azure_kusto_spark.functions.parallelism import (
        ensure_min_parallelism,
    )

    vecs = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("v")
    ).withColumn("vn", l2_norm("v"))
    # the broadcast nested loop streams the LEFT side: a small parquet
    # corpus arrives as ONE partition, which serializes the whole
    # n²-pair scoring into a single task (measured 25.8 s for 4M pairs
    # at sf0.1 — 2.1 s once widened)
    a, b = ensure_min_parallelism(vecs).alias("a"), vecs.alias("b")
    scored = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a.nid") != F.col("b.nid"))
        .select(
            F.col("a.nid").alias("src"),
            F.col("b.nid").alias("dst"),
            (dot("a.v", "b.v")
             / (F.col("a.vn") * F.col("b.vn"))).alias("score"),
        )
    )
    return (
        topk_rows(scored, "src", ["-score", "dst"], k)
        .drop("rank")
        .withColumn("block", (F.col("src") % n_blocks).cast("int"))
    )


def knn_graph_upsert(
    batch: DataFrame,
    graph_dir: str,
    vec_dir: str,
    k: int,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
    seq_col: str | None = None,
    max_broadcast_frontier: int | None = 10_000,
) -> dict:
    """Apply ONE batch of vector upserts/tombstones to a persisted kNN
    graph index — the graph twin of ``ivf_index_upsert`` (VERDICT r10
    #3). State on disk:

    - ``vec_dir``: the vector store, parquet partitioned by
      ``block = vec_id % n_blocks``
    - ``graph_dir``: the exact directed top-``k`` adjacency
      (``knn_graph_build_exact``'s invariant), parquet partitioned by
      ``block = src % n_blocks``

    ``batch`` rows: (id, vec); NULL vec is a tombstone. The vector
    store is upserted through ``_upsert_head`` (last write wins, by
    ``seq_col`` when given) before the graph is touched.

    The maintained invariant is EXACT: after every batch the adjacency
    equals ``knn_graph_build_exact`` over the post-batch corpus, row
    for row — which is what lets the streaming gate grade the final
    ``graph_search_topk`` against a rebuilt-from-scratch oracle with
    integer parity. Exactness comes from recomputing a BOUNDED
    frontier, never the graph:

    - batch ids themselves (new/updated vectors, and tombstoned rows
      drop),
    - reverse neighbors — nodes with an edge INTO a batch id (its
      vector changed or vanished, so their lists are stale), found by
      one semi-join on the adjacency's dst column,
    - displaced nodes — nodes whose current k-th score an incoming
      vector beats (or whose degree is under ``k``), found by scoring
      the ≤|batch| live vectors against the corpus ONCE (broadcast
      batch, single narrow corpus scan) and comparing to the stored
      per-node k-th score.

    Everything outside that frontier provably keeps its exact top-k:
    no neighbor left, no candidate entered. Only adjacency partitions
    containing frontier/batch nodes are rewritten (dynamic partition
    overwrite), emptied partitions are removed. At 100 TB the
    displaced-node scan routes through the IVF cells instead (probe
    only cells whose centroid bound can beat the k-th score) — same
    frontier, pruned scan; the exact scan here keeps the gate oracle
    closed-form.

    Returns {"n_frontier", "affected_blocks", "emptied_blocks"}.
    """
    spark = batch.sparkSession
    # ---- 1. vector store: rewrite only the batch ids' blocks.
    # (r14 note: an attempted "post-batch corpus = untouched blocks ∪
    # checkpointed rewrite" restructure — to overlap this write with
    # the frontier recompute — MEASURED 2× SLOWER at fixture scale and
    # is structurally worse at 100 TB: every downstream corpus scan
    # paid the distinct-shuffle + broadcast anti-join instead of a
    # plain store read. The read-after-write barrier stays.)
    up = _upsert_head(
        batch.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            *([seq_col] if seq_col else []),
        ),
        vec_dir, lambda live: live.select("vec_id", "v", "block"),
        "vec_id", "v", "block", n_blocks=n_blocks, seq_col=seq_col,
    )
    _rewrite_partitions(
        up.keep.unionByName(up.new), vec_dir, "block", up.affected
    )
    batch_ids, live = up.latest.select("vec_id"), up.new
    # post-batch state, read with the known schemas
    corpus = spark.read.schema(up.new.schema).parquet(vec_dir)
    id_type = up.new.schema["vec_id"].dataType.simpleString()
    graph = spark.read.schema(
        f"src {id_type}, dst {id_type}, score double, block int"
    ).parquet(graph_dir)

    # ---- 2. bounded frontier
    rev = (
        graph.join(F.broadcast(batch_ids.withColumnRenamed("vec_id", "dst")), "dst")
        .select("src")
        .distinct()
    )
    kth = graph.groupBy("src").agg(
        F.min("score").alias("_kth"), F.count("*").alias("_deg")
    )
    cvec = corpus.select(
        F.col("vec_id").alias("src"), F.col("v").alias("cv")
    ).withColumn("cn", l2_norm("cv"))
    lvec = live.select(
        F.col("vec_id").alias("_bid"), F.col("v").alias("bv")
    ).withColumn("bn", l2_norm("bv"))
    displaced = (
        cvec.crossJoin(F.broadcast(lvec))
        .filter(F.col("src") != F.col("_bid"))
        .select(
            "src",
            (dot("cv", "bv") / (F.col("cn") * F.col("bn")))
            .alias("_s"),
        )
        .join(kth, "src", "left")
        # ties included (>=): an equal score can still displace on the
        # dst tiebreak; a false positive only costs one recompute
        .filter(
            F.col("_kth").isNull()
            | (F.col("_deg") < k)
            | (F.col("_s") >= F.col("_kth"))
        )
        .select("src")
        .distinct()
    )
    frontier = (
        live.select(F.col("vec_id").alias("src"))
        .unionByName(rev)
        .unionByName(displaced)
        .distinct()
        # tombstoned ids can surface via rev/displaced of OTHER batch
        # rows; they have no vector anymore — recompute only live nodes
        .join(corpus.select(F.col("vec_id").alias("src")), "src", "left_semi")
        .localCheckpoint()
    )
    # the cap check happens BEFORE anything broadcasts the frontier
    # (the recompute plan executes at the grewrite checkpoint below)
    n_frontier = frontier.count()
    if max_broadcast_frontier is not None and n_frontier > max_broadcast_frontier:
        raise ValueError(
            f"knn_graph_upsert: frontier {n_frontier} exceeds "
            f"max_broadcast_frontier={max_broadcast_frontier}; split the "
            f"batch into smaller micro-batches, or raise the cap if the "
            f"corpus side can absorb the broadcast nested loop."
        )
    affected = sorted(
        r["block"]
        for r in frontier.unionByName(
            batch_ids.withColumnRenamed("vec_id", "src")
        )
        .select((F.col("src") % n_blocks).cast("int").alias("block"))
        .distinct()
        .collect()  # bounded: ≤ n_blocks
    )

    # ---- 3. exact recompute of the frontier rows only. Norms are
    # computed ONCE per corpus row / once per broadcast frontier row,
    # so each of the |frontier|·|corpus| pairs costs a single fold
    # (the dot) — the same discipline as knn_graph_build_exact; going
    # through brute_force_topk's cosine() was 3 folds per pair and
    # measured 354 s for a 1,664×50k recompute. Operand order matches
    # the builder exactly (dot(src, dst) / (src_n · dst_n)), so scores
    # stay bit-identical to a scratch rebuild.
    fq = cvec.join(F.broadcast(frontier), "src").select(
        F.col("src").alias("_q"),
        F.col("cv").alias("qv"),
        F.col("cn").alias("qn"),
    )
    scored = (
        cvec.crossJoin(F.broadcast(fq))
        .filter(F.col("src") != F.col("_q"))
        .select(
            F.col("_q").alias("src"),
            F.col("src").alias("dst"),
            (dot("qv", "cv") / (F.col("qn") * F.col("cn")))
            .alias("score"),
        )
    )
    recomputed = (
        topk_rows(scored, "src", ["-score", "dst"], k)
        .drop("rank")
        .withColumn("block", (F.col("src") % n_blocks).cast("int"))
    )

    # ---- 4. rewrite only the affected adjacency partitions (the
    # affected list was collected above and prunes the scan)
    drop = frontier.unionByName(
        batch_ids.withColumnRenamed("vec_id", "src")
    ).distinct()
    gkeep = (
        _prune_partitions(graph, "block", affected)
        .join(drop, "src", "left_anti")
        .select("src", "dst", "score", "block")
    )
    emptied = _rewrite_partitions(
        gkeep.unionByName(recomputed.select("src", "dst", "score", "block")),
        graph_dir, "block", affected,
    )
    return {
        "n_frontier": n_frontier,
        "affected_blocks": affected,
        "emptied_blocks": sorted(emptied),
    }


def centroid_entry_points(
    corpus: DataFrame,
    queries: DataFrame,
    n_entry_cells: int = 3,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    centroid_round: int | None = None,
) -> DataFrame:
    """COARSE entry points for ``graph_search_topk`` (VERDICT r10 #4):
    per query, the medoids of its ``n_entry_cells`` nearest cells — the
    member maximizing cosine to its cell centroid (tie: lowest id).
    This replaces the blind ``vec_id % entry_stride`` sample with
    entries already NEAR the query, the role HNSW's upper layers play:
    the beam starts inside the right neighborhood instead of spending
    its first rounds walking toward it.

    Plan shape: centroids are ≤ n_cells rows (broadcast); the medoid
    table is ONE corpus scan reduced by max_by per cell (n_cells rows,
    broadcast); per-query cell ranking is queries × n_cells with both
    sides bounded. Output: (query_id, nid), n_entry_cells rows per
    query. ``centroid_round`` quantizes centroid components (audits
    round to 6 in BOTH engines so cell/medoid ranking can't drift on
    the last float ulp)."""
    cents = cell_centroids(corpus, cell_col=cell_col, vec_col=vec_col)
    if centroid_round is not None:
        cents = cents.select(
            "cell",
            F.transform(
                "centroid", lambda x: F.round(x, centroid_round)
            ).alias("centroid"),
        )
    medoids = (
        corpus.select(
            F.col(id_col).alias("_mid"),
            F.col(vec_col).alias("_mv"),
            F.col(cell_col).alias("cell"),
        )
        .join(F.broadcast(cents), "cell")
        .withColumn("_cs", cosine("_mv", "centroid"))
        .groupBy("cell")
        # max_by on a (score, -id) struct: ties break to the LOWEST id
        # deterministically inside one hash aggregate
        .agg(
            F.max_by(
                "_mid", F.struct(F.col("_cs"), -F.col("_mid"))
            ).alias("nid")
        )
    )
    qcells = multiprobe_cells(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qv"),
        ),
        cents,
        n_probe=n_entry_cells,
        query_id_col="query_id",
        query_vec_col="qv",
    )
    return qcells.join(F.broadcast(medoids), "cell").select("query_id", "nid")


def undirected_edges(graph: DataFrame) -> DataFrame:
    """Symmetrize a directed/mutual edge list: (src, dst) ∪ (dst, src),
    distinct. The expansion substrate for ``graph_search_topk`` —
    searching over directed lists alone strands queries in sink nodes."""
    e = graph.select("src", "dst")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def graph_search_topk(
    corpus: DataFrame,
    queries: DataFrame,
    edges: DataFrame,
    k: int = 10,
    rounds: int = 2,
    beam: int = 4,
    entry_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    max_broadcast_queries: int | None = 10_000,
    return_visited: bool = False,
    entries: DataFrame | None = None,
) -> DataFrame:
    """Graph-based ANN search over a prebuilt kNN graph (HNSW layer-0
    analog, greedy beam search): start each query at a fixed set of
    ENTRY POINTS (corpus ids divisible by ``entry_stride`` — a
    deterministic ~1/stride sample standing in for HNSW's upper
    layers; or, r11, pass ``entries`` as a per-query (query_id, nid)
    frame — e.g. ``centroid_entry_points`` — to start each query at
    COARSE entries near it instead of a blind global sample),
    score them exactly, then for a FIXED number of ``rounds``
    expand the per-query ``beam`` best not-yet-expanded nodes through
    the undirected edge list, score only the newly discovered nodes,
    and finally rank everything visited → (query_id, neighbor_id,
    score, rank). Fixed rounds (not converge-until-quiet) keep the
    plan static, the cost budget explicit, and the operator expressible
    as unrolled SQL for the oracle — the same policy as
    ``kmeans_lloyd_step`` / ``nn_descent_refine``.

    Scale shape (the reason this beats IVF multiprobe on a huge
    corpus): per query per round the frontier is ≤ ``beam`` rows, the
    expansion ≤ beam × degree rows, so TOTAL scored candidates are
    ≤ entries/stride + rounds·beam·degree — independent of corpus
    size, and every stage is an equi-join (frontier⋈edges on node id,
    candidates⋈vectors on node id) with the bounded query side
    broadcast. The edge list itself shuffles once on src. Visited
    state per query is the scored union, ≤ the same bound — no
    visited-set blowup to cap. Queries guarded by
    ``max_broadcast_queries`` exactly like ``brute_force_topk``.

    With ``return_visited`` the full visited set (query_id, nid,
    score, round) comes back instead — the recall-audit hook that
    makes "equal candidate budget" comparisons against IVF multiprobe
    measurable rather than asserted.
    """
    # ONE materialization barrier: the edge list is referenced by every
    # round's expansion join — checkpointed, each round reuses the
    # edge scan instead of replaying the (LSH/graph-build) lineage.
    # The per-round frontiers stay LAZY: their subplans are tiny
    # (bounded candidate sets joined to vectors), and skipping the
    # per-round localCheckpoint barriers measured 6.9 → ~2 s warm at
    # sf0.1 (barrier jobs dominated, not compute).
    # The query-cap ValueError fires before anything broadcasts the
    # query side (the search plan only executes at the caller's action).
    _check_query_cap(
        "graph_search_topk", queries, max_broadcast_queries,
        "chunk the queries and union, or pass max_broadcast_queries=None.",
    )
    und = undirected_edges(edges).localCheckpoint()
    vecs = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("v")
    ).withColumn("vn", l2_norm("v"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
    ).withColumn("qn", l2_norm("qv"))

    def score(cand: DataFrame, rnd: int) -> DataFrame:
        # equi-join candidates to vectors on node id; the bounded query
        # side broadcasts in for the dot product
        return (
            cand.join(vecs, "nid")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "nid",
                (dot("qv", "v") / (F.col("qn") * F.col("vn")))
                .alias("score"),
                F.lit(rnd).alias("round"),
            )
        )

    if entries is not None:
        start = entries.select("query_id", "nid")
    else:
        global_entries = vecs.filter(
            F.col("nid") % entry_stride == 0
        ).select("nid")
        # every query starts at every entry point: bounded cross of two
        # tiny sides (≤ corpus/stride × queries)
        start = q.select("query_id").crossJoin(global_entries)
    scored = score(start, rnd=0)
    visited = scored
    frontier = scored
    for rnd in range(1, rounds + 1):
        expand = topk_rows(frontier, "query_id", ["-score", "nid"], beam).select(
            "query_id", "nid"
        )
        cand = (
            expand.join(und, expand.nid == und.src)
            .select("query_id", F.col("dst").alias("nid"))
            .distinct()
            .join(visited.select("query_id", "nid"),
                  ["query_id", "nid"], "left_anti")
        )
        frontier = score(cand, rnd)
        visited = visited.unionByName(frontier)
    if return_visited:
        return visited.select(
            "query_id", "nid", F.round("score", 6).alias("score"),
            F.col("round").cast("long").alias("round"),
        )
    # the query's own node (when the query set is drawn from the
    # corpus) stays in the frontier — it's the best expansion seed —
    # but is excluded from the RANKED output like every other topk op
    ranked = visited.filter(F.col("nid") != F.col("query_id"))
    return topk_rows(ranked, "query_id", ["-score", "nid"], k).select(
        "query_id",
        F.col("nid").alias("neighbor_id"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------
# binary (sign-bit) quantization + multi-index-hashing Hamming search


def sign_bit_words(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Append the 64-dim sign-bit code packed into TWO 32-bit words
    (``w0``/``w1`` — two words, not one 64-bit word, so no engine ever
    shifts into a BIGINT's sign bit). Bit j of word 0 is
    ``vec[j] > 0`` for j in 0..31; word 1 covers 32..63. The quantized
    index is 8 bytes/vector: a 100 TB float corpus becomes ~0.8 TB of
    codes."""
    word = (
        "CAST(aggregate(transform(slice({v}, {lo}, 32), (x, j) -> "
        "IF(x > 0, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x) AS BIGINT)"
    )
    return df.withColumn("w0", F.expr(word.format(v=vec_col, lo=1))).withColumn(
        "w1", F.expr(word.format(v=vec_col, lo=33))
    )


def _mih_subwords(src: DataFrame, id_out: str, n_sub: int) -> DataFrame:
    """Explode a coded frame into (id, subword index, subword value)
    rows — the multi-index-hashing bucket keys (8-bit subwords)."""
    sub_expr = F.expr(
        f"explode(transform(sequence(0, {n_sub - 1}), i -> struct(i AS i,"
        " CASE WHEN i < 4 THEN shiftright(w0, 8 * i) & CAST(255 AS BIGINT)"
        " ELSE shiftright(w1, 8 * (i - 4)) & CAST(255 AS BIGINT) END AS sv)))"
    )
    return src.select(F.col("id").alias(id_out), sub_expr.alias("s")).select(
        id_out, F.col("s.i").alias("i"), F.col("s.sv").alias("sv")
    )


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_candidates: int = 32,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int | None = None,
    precoded: bool = False,
) -> DataFrame:
    """Binary-quantized top-k with MULTI-INDEX-HASHING candidate
    generation (Norouzi, Punjani, Fleet): candidates are corpus rows
    sharing at least one exact 8-bit subword with the query at the same
    index — the pigeonhole principle guarantees every neighbor within
    Hamming radius < ``n_sub`` is recalled, and candidate generation is
    an EQUI-JOIN on fixed-width (index, subword) keys, never a
    corpus×query scan. Candidates rank by popcount Hamming
    (``bit_count(w XOR w)``, pure JVM integer ops); the top
    ``n_candidates`` rerank by exact cosine.

    Scale shape: subword buckets hold n/256 rows in expectation per
    index, so the candidate join's fan-out is linear in corpus size
    with a 1/32 constant; only ``n_candidates`` rows per query ever
    touch the full-precision vectors. The query side is
    modulus-bounded by the caller and broadcast.

    ``precoded=True``: corpus and queries already carry ``w0``/``w1``
    (e.g. read from a `mih_code_upsert`-maintained store) — the search
    then READS the persisted codes instead of recomputing sign bits,
    which is the point of maintaining the index.

    Returns (query_id, neighbor_id, hamming, score, rank)."""
    def coded(df: DataFrame) -> DataFrame:
        base = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            *([F.col("w0"), F.col("w1")] if precoded else []),
        )
        return base if precoded else sign_bit_words(base, "v")

    e = coded(corpus).localCheckpoint()  # words + vectors reused 4×
    q = coded(queries).select(
        F.col("id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    sub = _mih_subwords(e, "nid", n_sub)
    qs = _mih_subwords(
        q.select(
            F.col("qid").alias("id"), F.col("qw0").alias("w0"), F.col("qw1").alias("w1")
        ),
        "qid",
        n_sub,
    )
    cand = (
        sub.join(F.broadcast(qs), ["i", "sv"])
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid")
        .distinct()
    )
    ham = (
        cand.join(F.broadcast(q.select("qid", "qw0", "qw1")), "qid")
        .join(
            e.select(F.col("id").alias("nid"), "w0", "w1"), "nid"
        )
        .select(
            "qid",
            "nid",
            (
                F.expr("bit_count(qw0 ^ w0)") + F.expr("bit_count(qw1 ^ w1)")
            ).cast("bigint").alias("hamming"),
        )
    )
    top = topk_rows(ham, "qid", ["hamming", "nid"], n_candidates).select(
        "qid", "nid", "hamming"
    )
    rer = (
        top.join(F.broadcast(q.select("qid", "qv")), "qid")
        .join(e.select(F.col("id").alias("nid"), F.col("v")), "nid")
        .withColumn("score", cosine("qv", "v"))
    )
    score_col = (
        F.round("score", score_round) if score_round is not None else F.col("score")
    )
    return topk_rows(rer, "qid", ["-score", "nid"], k).select(
        F.col("qid").alias("query_id"),
        F.col("nid").alias("neighbor_id"),
        "hamming",
        score_col.alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def mih_code_upsert(
    batch: DataFrame,
    code_dir: str,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
    seq_col: str | None = None,
) -> dict:
    """Apply ONE batch of vector upserts/tombstones (NULL vector) to a
    persisted binary-code store — the MIH twin of ``ivf_index_upsert``,
    and the CHEAPEST index-maintenance contract in the family: the
    stored row is (id, vector, w0, w1) with ``block = id % n_blocks``
    as the partition key, so id→block is IMMUTABLE by construction —
    the cell-move staleness hazard the IVF upsert has to defend against
    (ADVICE r10 #2) cannot exist here. ``_upsert_head`` resolves the
    batch and reads the rows its blocks keep; only those blocks
    rewrite. Returns per-batch stats."""
    up = _upsert_head(
        batch.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            *([seq_col] if seq_col else []),
        ),
        code_dir,
        lambda live: sign_bit_words(live, "v").select(
            "vec_id", "v", "w0", "w1", "block"
        ),
        "vec_id", "v", "block", n_blocks=n_blocks, seq_col=seq_col,
    )
    emptied = _rewrite_partitions(
        up.keep.unionByName(up.new), code_dir, "block", up.affected
    )
    return {
        "batch_rows": up.batch_rows,
        "affected_blocks": len(up.affected),
        "emptied_blocks": len(emptied),
    }


def pq_code_upsert(
    batch: DataFrame,
    codebook: DataFrame,
    code_dir: str,
    num_subspaces: int,
    sub_len: int,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
    seq_col: str | None = None,
) -> dict:
    """Apply ONE batch of vector upserts/tombstones (NULL vector) to a
    persisted PQ CODE store — the product-quantization member of the
    streaming index-maintenance family (IVF cells, kNN-graph blocks,
    MIH sign-bit words, and now PQ code words). The serving regime is
    the realistic one: the codebook is FROZEN at training time and new
    vectors are encoded against it on arrival (``pq_encode`` — scan →
    subvector explode → broadcast-codebook argmin, no corpus shuffle),
    so an upsert costs |batch| encodings + |affected blocks| of store
    I/O, never |index|.

    Store rows are (vec_id, m, code, qerr) with ``block = vec_id %
    n_blocks`` as the partition key — id→block is IMMUTABLE by
    construction, so (like MIH, unlike IVF cells) the cell-move
    staleness hazard cannot exist. Tombstones drop all ``num_subspaces``
    rows of the id; ``_upsert_head`` resolves the batch and reads the
    rows its blocks keep.

    The frozen-codebook regime silently DEGRADES if upserts shift the
    vector distribution — exactly what the returned per-subspace drift
    registers exist to catch: ``drift`` is [(m, n, sum_qerr)] for THIS
    batch's encodings (≤ num_subspaces rows collected), additive across
    epochs like the BM25/DSIR/count-min registers, so a monitor can
    SUM-merge them and gate a retrain decision on mean quantization
    error versus the training-time baseline without ever rescanning
    the corpus.

    Returns {"batch_rows", "affected_blocks", "emptied_blocks",
    "drift": [(m, n, sum_qerr), ...]}.
    """
    up = _upsert_head(
        batch.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            *([seq_col] if seq_col else []),
        ),
        code_dir,
        lambda live: pq_encode(
            live, codebook, num_subspaces, sub_len, id_col="vec_id", vec_col="v"
        )
        .withColumn("block", (F.col("vec_id") % n_blocks).cast("int"))
        .select("vec_id", "m", "code", "qerr", "block"),
        "vec_id", "v", "block", n_blocks=n_blocks, seq_col=seq_col,
    )
    adds = up.new.localCheckpoint()  # read by the drift registers and the rewrite
    emptied = _rewrite_partitions(
        up.keep.unionByName(adds), code_dir, "block", up.affected
    )
    return {
        "batch_rows": up.batch_rows,
        "affected_blocks": len(up.affected),
        "emptied_blocks": len(emptied),
        "drift": _drift(adds),
    }


def _drift(adds: DataFrame) -> list:
    """Per-subspace drift registers [(m, n, sum_qerr)] of a batch's PQ
    encodings (≤ num_subspaces rows collected)."""
    return sorted(
        (int(r["m"]), int(r["n"]), float(r["sq"]))
        for r in adds.groupBy("m")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qerr").alias("sq"))
        .collect()
    )


def hierarchical_graph_search_topk(
    corpus: DataFrame,
    queries: DataFrame,
    edges: DataFrame,
    upper_layers: list[dict],
    k: int = 10,
    rounds: int = 2,
    beam: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    max_broadcast_queries: int | None = 10_000,
    return_visited: bool = False,
    return_all_visited: bool = False,
) -> DataFrame:
    """HIERARCHICAL graph search — the multi-layer descent that is
    HNSW's actual win (Malkov & Yashunin: greedy search on sparse upper
    layers finds the right NEIGHBORHOOD, the dense bottom layer finds
    the neighbors). ``upper_layers`` lists layers TOP-first; each is
    {"members": (nid) DataFrame — the stride-sampled node subset,
    "edges": (src, dst) exact-kNN edges AMONG those members,
    "rounds": int, "beam": int, "carry": int}. The search greedily
    descends: beam-search each upper layer (via ``graph_search_topk``
    restricted to that layer's members), keep the per-query ``carry``
    best nodes as the entry points of the layer below, and finally run
    the normal rounds×beam beam search on the full layer-0 graph.

    The top layer starts from ALL of its members — by construction the
    top layer is the sparsest (|corpus| / stride^depth nodes), so this
    is the bounded "entry candidates" set, exactly the role HNSW's
    single top-layer entry plays but deterministic and
    oracle-expressible.

    Scale shape: every stage inherits ``graph_search_topk``'s bounds —
    per query per round ≤ beam expansions × layer degree, all
    equi-joins with the bounded query side broadcast; upper layers are
    strictly smaller (members are a 1/stride sample, their edge lists
    ~degree·|members|), so the added descent cost is a FRACTION of the
    layer-0 search while the layer-0 beam starts inside the right
    neighborhood. An audit (``graph_hierarchy_gain_audit``) grades the
    gain as exact integer hit counts at equal layer-0 rounds×beam.

    ``return_all_visited`` returns the union of every layer's visited
    set as (query_id, nid, score, layer) — layer = len(upper_layers)
    for the top, 0 for the bottom — the hook that makes the audit's
    "candidate budget" column count the WHOLE search (descent
    included), not just the layer-0 walk.
    """
    vecs = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
    )
    entries: DataFrame | None = None
    all_vis: list[DataFrame] = []
    for li, layer in enumerate(upper_layers):
        members = layer["members"].select("nid")
        lcorpus = vecs.join(F.broadcast(members), "nid")
        if entries is None:
            # top layer: every query starts at every member (bounded:
            # the top layer is the sparsest by construction)
            start = q.select("query_id").crossJoin(members)
        else:
            start = entries
        vis = graph_search_topk(
            lcorpus, q, layer["edges"],
            rounds=layer["rounds"], beam=layer["beam"],
            id_col="nid", vec_col="v",
            query_id_col="query_id", query_vec_col="qv",
            max_broadcast_queries=max_broadcast_queries if li == 0 else None,
            return_visited=True, entries=start,
        )
        if return_all_visited:
            all_vis.append(
                vis.select(
                    "query_id", "nid", "score",
                    F.lit(len(upper_layers) - li).alias("layer"),
                )
            )
        entries = (
            topk_rows(vis, "query_id", ["-score", "nid"], layer["carry"])
            .select("query_id", "nid")
            # bounded (≤ carry × |queries| rows) barrier: without it the
            # next layer's plan chains the WHOLE upper-layer search
            # lineage and the composed plan blows up the driver
            .localCheckpoint()
        )
    bottom = graph_search_topk(
        corpus, queries, edges, k=k, rounds=rounds, beam=beam,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        # the top layer probed the query cap already; a flat call
        # (no upper layers) probes it here
        max_broadcast_queries=None if upper_layers else max_broadcast_queries,
        return_visited=return_visited or return_all_visited, entries=entries,
    )
    if not return_all_visited:
        return bottom
    out = bottom.select(
        "query_id", "nid", "score", F.lit(0).alias("layer")
    )
    for v in all_vis:
        out = out.unionByName(
            v.select("query_id", "nid", F.round("score", 6).alias("score"), "layer")
        )
    return out


def ivfpq_code_upsert(
    batch: DataFrame,
    codebook: DataFrame,
    idx_dir: str,
    num_subspaces: int,
    sub_len: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cell_col: str = "cell",
    seq_col: str | None = None,
) -> dict:
    """Apply ONE batch of vector upserts/tombstones (NULL vector) to a
    CELL-PARTITIONED PQ code store — the IVF-PQ composite of the
    streaming index-maintenance family: rows are (vec_id, m, code,
    qerr) partitioned by the IVF ``cell``, so a probe prunes to its
    probed cells AND scans 8-byte code words instead of raw vectors —
    the layout a billion-vector serving index actually uses.

    Inherits BOTH hazards of its parents: the cell is carried with the
    batch, so ``_upsert_head`` applies the IVF cell-move defense; and
    codes are computed against the FROZEN training-time codebook, so
    the same per-subspace drift registers as ``pq_code_upsert`` come
    back for the retrain monitor.

    Returns {"batch_rows", "affected_cells", "emptied_cells",
    "drift": [(m, n, sum_qerr), ...]}.
    """
    up = _upsert_head(
        batch.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            F.col(cell_col).alias("cell"),
            *([seq_col] if seq_col else []),
        ),
        idx_dir,
        lambda live: pq_encode(
            live, codebook, num_subspaces, sub_len, id_col="vec_id", vec_col="v"
        )
        .join(F.broadcast(live.select("vec_id", "cell")), "vec_id")
        .select("vec_id", "m", "code", "qerr", "cell"),
        "vec_id", "v", "cell", seq_col=seq_col,
    )
    adds = up.new.localCheckpoint()  # read by the drift registers and the rewrite
    emptied = _rewrite_partitions(
        up.keep.unionByName(adds), idx_dir, "cell", up.affected
    )
    return {
        "batch_rows": up.batch_rows,
        "affected_cells": len(up.affected),
        "emptied_cells": len(emptied),
        "drift": _drift(adds),
    }


def hierarchical_layers_nn_descent(
    corpus: DataFrame,
    layer_specs: list[dict],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 2,
    bucket_cap: int = 256,
) -> tuple[DataFrame, list[dict]]:
    """Build ALL layers of a hierarchical ANN index WITHOUT any
    all-pairs stage (VERDICT r12 next-round #2): each layer's kNN edges
    come from ``nn_descent_refine`` (two-band LSH seed + one
    neighbor-of-neighbor refinement round) over that layer's member
    subset — including layer 0 over the full corpus, where
    ``knn_graph_build_exact`` is the O(n²) construction this function
    exists to retire for NEW indexes at 100 TB.

    ``layer_specs`` is ordered BOTTOM-UP, layer 0 first; each entry is
    {"stride": int (1 for layer 0 — membership is nid % stride == 0),
    "k": int (graph degree), "num_planes": int (LSH planes per band —
    smaller layers need fewer planes so buckets stay populated),
    "build_rounds": int (nn-descent refinement rounds, default 1 —
    each extra round feeds the previous round's top-``k`` lists back
    as the seed, the Dong et al. iteration; every round is the same
    bounded equi-join shape, so cost is rounds × linear),
    "rounds"/"beam"/"carry": the descent params for UPPER layers
    (ignored on layer 0 — the searcher takes those separately)}.

    Returns (edges0, upper_layers) in exactly the shape
    ``hierarchical_graph_search_topk`` consumes (upper_layers
    TOP-first). Every edge frame is localCheckpointed: each is scanned
    once per descent round by the searcher, and re-deriving the
    LSH+refine lineage per scan would multiply the build cost.

    Scale shape: per layer, candidate generation is the banded bucket
    equi-join (≤ bucket_cap² pairs per bucket per band) plus the ≤ 4k²
    per-node two-hop expansion — linear in layer size, never |layer|².
    Upper layers are 1/stride samples, so the whole build is a small
    multiple of the layer-0 nn-descent cost. ``build_rounds`` per-spec
    fixes the refinement budget (the r14 gated unit is 2 — measured to
    recover ≥90% of exact-graph recall on the audit fixture);
    production builds at a new corpus instead iterate until the
    `improved` fraction dries up, each round the same bounded shape.
    The construction trades exactness for scalability —
    ``hierarchical_build_recall_audit`` grades the loss as exact
    integers against the exact-built layers at equal descent budget."""
    vecs = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("v"))

    def _build_layer(spec: dict) -> tuple[dict, DataFrame, DataFrame]:
        members = (
            vecs if spec["stride"] == 1
            else vecs.filter(F.col("nid") % spec["stride"] == 0)
        )
        refined = nn_descent_refine(
            members, id_col="nid", vec_col="v",
            num_planes=spec["num_planes"], k=spec["k"],
            bucket_cap=bucket_cap, bands=bands,
        )
        for _ in range(spec.get("build_rounds", 1) - 1):
            # feed the previous round's top-k lists (ROUND(score,6) —
            # the refine output contract) back as the seed; checkpoint
            # per round, each graph is re-scanned by the next round's
            # reverse-rank + two-hop stages
            refined = nn_descent_refine(
                members, id_col="nid", vec_col="v",
                num_planes=spec["num_planes"], k=spec["k"],
                bucket_cap=bucket_cap, bands=bands,
                seed=refined.select("src", "dst", "score").localCheckpoint(),
            )
        edges = refined.select("src", "dst").localCheckpoint()
        return (spec, members, edges)

    built = [_build_layer(spec) for spec in layer_specs]
    edges0 = built[0][2]
    upper = [
        {
            "members": members.select("nid"),
            "edges": edges,
            "rounds": spec["rounds"],
            "beam": spec["beam"],
            "carry": spec["carry"],
        }
        for spec, members, edges in reversed(built[1:])
    ]
    return edges0, upper
