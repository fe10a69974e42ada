"""Deduplication operators for training-data pipelines (north-star
additions, SURVEY §7.3.6): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the 100 TB contract):
- Exact dedup is a hash aggregation on a fingerprint — one shuffle on
  md5(text), never on the text itself (shuffle bytes ∝ 32-char keys).
- MinHash/LSH never forms the O(n²) cross join: candidate pairs come
  from an equi-join on (band_id, band_hash) — AQE-skew-friendly, and
  the band hash is a fixed-width string so the shuffle is narrow.
- All hashing is md5-based and string-ordered so every stage is exactly
  reproducible in ANSI SQL (DuckDB oracle) — no JVM-specific murmur.
- Everything below is built-in expressions (explode/transform/
  aggregate/min/join) — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions.parallelism import ensure_min_parallelism
from kafka_sink_azure_kusto_spark.functions.similarity import topk_rows
from kafka_sink_azure_kusto_spark.functions.text import fingerprint, tokens


# --------------------------------------------------------------- exact dedup
def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per identical (normalized) text.

    groupBy on the md5 fingerprint (not the full text) keeps shuffle
    width constant regardless of document size.
    """
    fp = fingerprint(text_col)
    return (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_fp")
    )


# ------------------------------------------------------------------ shingles
def shingles(col: str | Column, k: int = 3) -> Column:
    """k-token shingles (word n-grams) as an array<string>; empty-safe.

    element_at/slice are 1-indexed in both Spark and DuckDB, keeping the
    oracle SQL literally parallel.
    """
    toks = tokens(col)
    n = F.size(toks)
    count = F.greatest(n - F.lit(k - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


# ---------------------------------------------------------------- MinHash/LSH
# Compact-signature permutation family: h_i(x) = (a_i·x + b_i) mod p over
# the Mersenne prime p = 2³¹−1, applied to a 31-bit md5-derived base.
# ONE md5 per shingle (vs 4 in the r6 digit-window form, 16 in the hex
# family) — the multiply-add runs in plain 64-bit integer arithmetic in
# any engine: a,x < p ⇒ a·x < 2⁶² < 2⁶³−1, no overflow, so the DuckDB
# oracle mirrors it verbatim (VERDICT r6 #3). Constants are fixed
# (seeded once, hardcoded) so Spark and the generated SQL cannot drift.
COMPACT_MERSENNE = 2_147_483_647  # 2^31 - 1
COMPACT_PERMS: list[tuple[int, int]] = [
    (2058367755, 1250378731),
    (1328920189, 372282286),
    (35052690, 260070992),
    (1425365892, 920539464),
    (409468654, 638079615),
    (1652464807, 2033713062),
    (1010120343, 873091422),
    (910172515, 1362467471),
    (1577225783, 708511551),
    (1389507383, 1784693824),
    (2003597556, 347112816),
    (2133395955, 1638263921),
    (1962772767, 908613595),
    (1364526543, 932472842),
    (1976978008, 656157898),
    (1457334632, 212322978),
]


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    compact: bool = False,
) -> DataFrame:
    """(id, sig) per document — the scale-path signature computation:
    explode shingles to rows, evaluate the ``num_hashes`` md5 columns as
    flat whole-stage-codegen expressions, min-aggregate per doc (partial
    map-side combine ⇒ the shuffle carries one fixed-width row per doc,
    regardless of document size). ~50× faster than a nested
    ``transform``/``array_min`` lambda form (which Spark interprets per
    element) and the shape that survives a 100 TB corpus.

    ``compact=False`` (default): signature elements are full 32-char
    md5 HEX STRINGS (512 bytes at 16 hashes) — collision-free and the
    historical oracle-gated representation. ``compact=True``: elements
    are LONGS from the universal-hash family h_i(x) = (a_i·x + b_i)
    mod 2³¹−1 over a 31-bit base x = (first 8 md5 hex digits of the
    shingle) mod 2³¹−1 — ONE md5 per shingle total (the r6 digit-window
    form cost 4; the hex family costs num_hashes), everything after the
    base is integer multiply-add inside whole-stage codegen. 16×8 = 128
    bytes per signature: the PERSISTED-STORE representation — r6's probe
    measured the hex store at 3.3× the TEXT size for short documents,
    compact restores the store economics and compares long-vs-long.
    Per-doc base-collision odds at 31 bits are ~|shingles|²/2³¹ —
    immaterial for the min statistic; (a·x+b) mod p with a≠0 is an
    exact permutation of [0, p).
    """
    # hash work happens as partial aggs in the scan stage — widen a
    # low-partition input (small corpus / single micro-batch) first so
    # the md5 columns parallelize; structural no-op at scale.
    df = ensure_min_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("s")
    )
    if compact:
        if num_hashes > len(COMPACT_PERMS):
            raise ValueError(
                f"compact minhash supports ≤{len(COMPACT_PERMS)} hashes, "
                f"got {num_hashes}"
            )
        p = F.lit(COMPACT_MERSENNE)
        # materialize the base ONCE per shingle row (structural, not
        # codegen-CSE-dependent): a,x < 2³¹−1 ⇒ a·x < 2⁶², overflow-free
        sh = sh.select(
            "id",
            (F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long") % p).alias(
                "_x"
            ),
        )

        # each hash as ONE parsed SQL string instead of a 5-call py4j
        # Column chain — identical expressions, but plan construction
        # cost ~0.4 s of pure driver time per call at 16 hashes
        # (measured via cProfile on dedup_store_compaction_lifecycle,
        # which builds signatures 4×); L suffixes keep the literals
        # long-typed exactly like F.lit did
        def mh_sql(h: int) -> str:
            a, b = COMPACT_PERMS[h]
            return f"({a}L * _x + {b}L) % {COMPACT_MERSENNE}L"
    else:
        def mh_sql(h: int) -> str:
            return f"md5(concat('{h}:', s))"
    aggs = [F.expr(f"min({mh_sql(h)}) AS m{h}") for h in range(num_hashes)]
    wide = sh.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[F.col(f"m{h}") for h in range(num_hashes)]).alias("sig")
    )


def lsh_bands(
    sig_col: Column, num_bands: int, rows_per_band: int, compact: bool = False
) -> Column:
    """Band the signature: array of (band_id, band_hash) structs where
    band_hash = md5 of the concatenated band slice (elements cast to
    string first, so long-valued compact signatures band identically).
    ``compact=True``: band_hash is the first 15 md5 hex digits as a
    LONG (< 2^60, signed-64 safe in every engine) — 8 bytes instead of
    a 32-char string; spurious-bucket-collision odds at 60 bits are
    ~n_bands²/2^60, immaterial (a collision only costs one extra
    verified candidate pair, never a wrong answer)."""

    def bh(b: Column) -> Column:
        h = F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        )
        if compact:
            return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        return h

    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(b.alias("band_id"), bh(b).alias("band_hash")),
    )


def banded_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    k: int = 3,
    compact: bool = False,
) -> DataFrame:
    """(id, sig, band_id, band_hash) — one row per document per band:
    the shared candidate-key computation under every MinHash-LSH path
    (self-join dedup, cross-corpus decontamination). Documents with no
    shingles (< k tokens) are dropped structurally by the signature
    explode, so no all-null signature can band to md5('')."""
    rows_per_band = num_hashes // num_bands
    assert num_bands * rows_per_band == num_hashes
    sigs = minhash_signatures_df(df, text_col, id_col, num_hashes, k, compact=compact)
    return sigs.select(
        "id",
        "sig",
        F.explode(
            lsh_bands(F.col("sig"), num_bands, rows_per_band, compact=compact)
        ).alias("b"),
    ).select(
        "id",
        "sig",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_hash").alias("band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    band_member_cap: int | None = None,
    compact: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Plan shape (scale-reviewed):
      1. signature per doc — narrow, one pass over text.
      2. explode bands — n_docs × num_bands rows, fixed-width.
      3. self-equi-join on (band_id, band_hash) — the ONLY shuffle;
         hash-partitioned on a 32-char key, AQE handles band skew.
      4. distinct candidate pairs, then exact signature-overlap estimate
         ≥ threshold. No O(n²) anywhere.

    Returns (left id, right id, est_jaccard) with left < right.

    ``band_member_cap``: hot-band guard for templated corpora. A single
    (band_id, band_hash) bucket holding m documents emits m·(m-1)/2
    candidate pairs — boilerplate (license headers, scaffold pages) can
    push one bucket to thousands of members and the self-join quadratic
    IN THAT BUCKET even though the plan is an equi-join. With a cap,
    bands with more than ``band_member_cap`` members are dropped from
    candidate generation (the standard production mitigation: such
    buckets are "common template" mass better handled by exact dedup /
    a dedicated template pass, and each surviving doc pair usually
    still shares a non-hot band). Cost: the count window introduces its
    own Exchange+Sort of the banded frame on the band key BEFORE the
    self-join (Window.partitionBy is not free even when the downstream
    join shuffles on the same key) — one extra fixed-width exchange,
    bought against removing the hot bucket's m²/2 candidate explosion;
    measured net win: the 100× scale exponent dropped 0.93 → 0.68 with
    the cap on (PERF.md round 4). If that exchange ever matters, the
    alternative is a groupBy count of hot keys broadcast-anti-joined
    back (no sort, but an extra aggregate + broadcast).
    """
    banded = banded_signatures(
        df, text_col, id_col, num_hashes, num_bands, k, compact=compact
    )
    if band_member_cap is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band_id", "band_hash")
        banded = (
            banded.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= band_member_cap)
            .drop("_n")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band_id") == F.col("r.band_id"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            F.col("l.sig").alias("lsig"),
            F.col("r.sig").alias("rsig"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    overlap = F.size(F.array_intersect("lsig", "rsig"))
    est = overlap.cast("double") / F.size("lsig").cast("double")
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("left_id", "right_id", "est_jaccard")
    )


def minhash_lsh_pairs_cross(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Cross-corpus near-dup pairs (corpus × probe) — the near-dup form
    of train-vs-benchmark decontamination: exact n-gram collision
    (``contamination_overlap``) misses paraphrased leaks; banding the
    MinHash signatures of BOTH corpora and equi-joining on
    (band_id, band_hash) catches documents that are merely similar to a
    benchmark item. Returns (corpus_id, probe_id, est_jaccard).

    Scale shape: probe side (the eval suite) is banded and BROADCAST —
    MBs against a 100 TB corpus — so the corpus side flows scan →
    signature agg → broadcast-hash join with no corpus-wide shuffle on
    the join; identical ids are excluded (probe ⊂ corpus callers)."""
    def side(df: DataFrame, name: str) -> DataFrame:
        return banded_signatures(
            df, text_col, id_col, num_hashes, num_bands, k
        ).select(
            F.col("id").alias(f"{name}_id"),
            F.col("sig").alias(f"{name}_sig"),
            "band_id",
            "band_hash",
        )

    c = side(corpus, "corpus")
    p = side(probe, "probe")
    if broadcast_probe:
        p = F.broadcast(p)
    cand = (
        c.join(p, ["band_id", "band_hash"])
        .filter(F.col("corpus_id") != F.col("probe_id"))
        .dropDuplicates(["corpus_id", "probe_id"])
    )
    overlap = F.size(F.array_intersect("corpus_sig", "probe_sig"))
    est = overlap.cast("double") / F.size("corpus_sig").cast("double")
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("corpus_id", "probe_id", "est_jaccard")
    )


# --------------------------------------------------------------------- SimHash
def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    num_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation uses the standard block trick (pigeonhole): split
    the 64 bits into ``num_blocks`` blocks; any pair within distance
    ``num_blocks-1`` shares at least one exact block — join on the block
    value. With default max_hamming=8 > num_blocks-1 the block join is a
    RECALL-bounded candidate filter (documented), still never O(n²).

    Representation (r9 perf): each block is PACKED INTO AN INT (bit t of
    block j is signature bit j·w+t, MSB-first — the same bit order as the
    ``bits`` array, so block equality and total Hamming are unchanged).
    Join keys are 4-byte ints instead of 16-char strings, and Hamming is
    Σ_j bit_count(l_kj XOR r_kj) — whole-stage codegen end to end. The
    previous form computed Hamming with zip_with+aggregate over two
    64-int arrays, which Spark evaluates INTERPRETED per element:
    measured 3.6 s → this form 1.3 s on the sf0.1 gate query, identical
    output (same oracle)."""
    block = 64 // num_blocks
    # Two conv() parses give the 64 token-hash bits as two 32-bit longs;
    # bit i (MSB-first across the 16 hex digits, the SQL oracle's layout)
    # is then a single shift+mod per token.
    toks = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    ).withColumn("h", F.md5("t"))
    c0 = F.conv(F.substring("h", 1, 8), 16, 10).cast("long")
    c1 = F.conv(F.substring("h", 9, 8), 16, 10).cast("long")
    contribs = []
    for i in range(64):
        bit = F.shiftright(c0, 31 - i) % 2 if i < 32 else F.shiftright(c1, 63 - i) % 2
        contribs.append(F.sum(2 * bit - 1).alias(f"w{i}"))
    wide = toks.groupBy("id").agg(*contribs)
    keys = []
    for j in range(num_blocks):
        expr = F.lit(0)
        for t in range(block):
            i = j * block + t
            expr = expr + F.when(F.col(f"w{i}") > 0, 1).otherwise(0) * F.lit(
                1 << (block - 1 - t)
            )
        keys.append(expr.cast("int").alias(f"k{j}"))
    sigs = wide.select("id", *keys)
    stack_expr = ", ".join(f"{j}, k{j}" for j in range(num_blocks))
    kcols = [f"k{j}" for j in range(num_blocks)]
    blocked = sigs.select(
        "id",
        *kcols,
        F.expr(f"stack({num_blocks}, {stack_expr})").alias("block_id", "block_key"),
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.block_id") == F.col("r.block_id"),
                F.col("l.block_key") == F.col("r.block_key"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            *[F.col(f"l.k{j}").alias(f"lk{j}") for j in range(num_blocks)],
            *[F.col(f"r.k{j}").alias(f"rk{j}") for j in range(num_blocks)],
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    hamming = F.lit(0)
    for j in range(num_blocks):
        hamming = hamming + F.bit_count(
            F.col(f"lk{j}").bitwiseXOR(F.col(f"rk{j}"))
        )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


# -------------------------------------------------- connected components
def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 20,
    rounds_out: "list | None" = None,
) -> DataFrame:
    """Connected components over the near-dup pair graph → canonical
    cluster id (= min node id in the component) per node. This is how a
    dedup pipeline turns pairwise matches into keep/drop decisions:
    transitively connected docs form one cluster, keep the canonical.

    Algorithm: min-label propagation WITH pointer-doubling — each round
    takes the min over (own label, neighbors' labels, label-of-label).
    The shortcut step compresses paths geometrically, so convergence is
    O(log diameter) rounds (a bare neighbor-propagation needs O(diameter)
    — measured: a 30-node chain does NOT converge in 20 plain rounds but
    does in 7 doubled ones). Each round is two equi-joins + an
    aggregation, fully distributed; lineage is truncated per round with
    localCheckpoint so plans stay bounded. The fixpoint (min id per
    component) is algorithm-independent, which is what makes it exactly
    oracle-able. Raises if max_iter is exhausted before the fixpoint —
    a silently partial clustering would corrupt dedup decisions.

    Skew note (worst cases probed in PERF.md r6): a GIANT component is
    the adversarial input. A chain of length n stresses round count —
    pointer doubling keeps it at O(log n), probed empirically. A hub
    node with n neighbors stresses the per-round ``groupBy("a").min``
    — safe, because min is partially aggregatable (map-side combine
    reduces the hub's updates per shuffle partition before the
    exchange); the label join on the hub's label value is a plain
    equi-join AQE skew-split handles. ``rounds_out``: optional list the
    converged round count is appended to (probe/diagnostic hook).
    """
    e = edges.select(F.col(left_col).alias("a"), F.col(right_col).alias("b"))
    e = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    e = e.localCheckpoint(eager=True)
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))

    # Convergence detector: every update takes least(old, ...), so labels
    # are monotonically non-increasing per node — the label sum strictly
    # decreases until the fixpoint. Comparing one exact decimal(38,0)
    # aggregate per round replaces the old->new equi-join + count (one
    # agg job on the just-checkpointed frame vs a join of two full label
    # frames — cheaper at any scale, same decision).
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nb = (
            e.join(labels, e["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nb_label"))
        )
        stepped = labels.join(nb, labels["id"] == nb["a"], "left").select(
            labels["id"],
            F.least(
                F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer doubling: label ← label of my label (path compression)
        parent = stepped.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        new_labels = (
            stepped.join(parent, stepped["label"] == parent["pid"], "left")
            .select(
                stepped["id"],
                F.least(
                    F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                ).alias("label"),
            )
            # lazy: the convergence-sum job below is what materializes
            # the checkpoint — one job per round instead of two
            .localCheckpoint(eager=False)
        )
        cur_sum = _label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if rounds_out is not None:
        rounds_out.append(rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            f"raise max_iter (components deeper than 2^{max_iter})"
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


# ------------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs, LSH-free but still not
    O(n²): candidates must share at least one shingle (equi-join on the
    shingle hash), then |∩|/|∪| computed from per-pair shared-shingle
    counts and per-doc distinct-shingle counts.

    For common-shingle-heavy corpora prefer ``minhash_lsh_pairs`` — this
    exact variant is the oracle/verification path.
    """
    ex = (
        ensure_min_parallelism(df)
        .select(F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("sh"))
        .distinct()
        .withColumn("shh", F.md5("sh"))
        .select("id", "shh")
    )
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Length-ratio prefilter (pure optimization, result-preserving):
    # jaccard(A,B) ≥ t implies min(|A|,|B|) ≥ t·max(|A|,|B|), so pairs
    # violating the size ratio can be pruned BEFORE the per-shingle
    # count — on templated corpora this cuts the candidate join output
    # substantially. Sizes ride along each exploded row (one extra int).
    exs = ex.join(sizes, on="id").select("id", "shh", "n_sh")
    l, r = exs.alias("l"), exs.alias("r")
    inter = (
        l.join(
            r,
            on=[
                F.col("l.shh") == F.col("r.shh"),
                F.col("l.id") < F.col("r.id"),
                F.least(F.col("l.n_sh"), F.col("r.n_sh"))
                >= F.lit(threshold) * F.greatest(F.col("l.n_sh"), F.col("r.n_sh")),
            ],
        )
        .groupBy(F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sl = sizes.alias("sl")
    sr = sizes.alias("sr")
    out = (
        inter.join(sl, F.col("left_id") == F.col("sl.id"))
        .join(sr, F.col("right_id") == F.col("sr.id"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sl.n_sh") + F.col("sr.n_sh") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )
    return out


# ------------------------------------------------- split & semantic dedup
def leakage_safe_split(
    nodes: DataFrame,
    edges: DataFrame,
    fractions: "list[tuple[str, float]] | None" = None,
    id_col: str = "doc_id",
    salt: str = "",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate-cluster-aware train/val/test assignment → (id,
    cluster_id, split).

    A naive per-document hash split leaks: near-duplicate documents land
    on both sides of the train/eval boundary and the eval set silently
    measures memorization. The leakage-safe rule assigns the SPLIT TO
    THE CLUSTER — every member of a connected near-dup component gets
    the split of its canonical id, so a duplicate family can never
    straddle the boundary. Assignment is the same md5-unit-interval
    coordinate as `functions.sampling` (pure function of cluster_id +
    salt: reproducible across engines, replays and repartitionings).

    Scale: cost is `connected_components` (O(log diameter) rounds of
    equi-joins); the split itself adds one narrow projection.
    `fractions` is an ordered list of (name, fraction) summing to 1 —
    cumulative boundaries slice [0, 1).
    """
    fracs = fractions or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    total = sum(f for _, f in fracs)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    from kafka_sink_azure_kusto_spark.functions.sampling import md5_unit_interval

    clusters = connected_components(nodes, edges, id_col=id_col, max_iter=max_iter)
    u = md5_unit_interval(F.col("cluster_id"), salt)
    # build the CASE front-to-back: u < c1 -> s1, u < c1+c2 -> s2, ...
    bounds = []
    acc = 0.0
    for name, frac in fracs[:-1]:
        acc += frac
        bounds.append((name, acc))
    expr = None
    for name, bound in bounds:
        cond = u < bound
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = expr.otherwise(fracs[-1][0]) if expr is not None else F.lit(fracs[-1][0])
    return clusters.select(id_col, "cluster_id", split.alias("split"))


def semantic_dedup_cells(
    emb: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    cell_member_cap: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): within
    each coarse cluster ("cell" — a k-means assignment at scale, the
    precomputed label here), drop every vector that has a smaller-id
    neighbor at cosine ≥ threshold → (id, cell, is_kept 0/1), one row
    per input vector.

    This is the one-pass parallel approximation of the sequential greedy
    (a dropped vector can still shadow a later one, so it over-drops
    relative to exact greedy dedup — the conservative direction for
    training-data curation). Deterministic: the drop decision is a pure
    function of the pair set, no iteration order involved.

    Scale shape: the pair join is WITHIN-CELL only — one shuffle of the
    corpus on the cell key, quadratic cost bounded by cell size (the
    SemDeDup paper's design point: cluster count is chosen so cells hold
    ~10^3-10^4 vectors). No broadcast of the corpus, no global pair
    explosion; the final keep-list anti-join shuffles ids only.

    ``cell_member_cap``: enforced guard for when the coarse clustering
    misbehaves (one mega-cell — e.g. a zero-vector attractor or a
    boilerplate mode — makes within-cell quadratic in CORPUS size). A
    cell with m > cap members is deterministically SUB-SPLIT into
    ceil(m / cap) subcells by an md5 hash of the id, and comparisons run
    within (cell, subcell) only — cost is re-bounded at ~cap²/2 pairs
    per subcell no matter how degenerate the clustering. Direction of
    the approximation: under-drops (cross-subcell duplicates in an
    oversized cell are missed), which for a CELL THE CLUSTERING FAILED
    ON is the honest choice — the principled fix is re-clustering that
    cell (SemDeDup re-runs k-means); the cap keeps the job alive and
    bounded until then. Same pattern as ``band_member_cap`` in
    ``minhash_lsh_pairs``, and the split is a pure function of
    (id, cell count) so any engine reproduces it (VERDICT r5 #6).
    """
    from kafka_sink_azure_kusto_spark.functions.sampling import md5_hex8_long
    from kafka_sink_azure_kusto_spark.functions.similarity import cosine

    if cell_member_cap is not None:
        counts = emb.groupBy(F.col(cell_col).alias("_ccell")).agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        n_sub = F.ceil(F.col("_cnt") / F.lit(cell_member_cap)).cast("long")
        # per-cell subcell count is a tiny table — broadcast it back.
        # eqNullSafe: a NULL cell label must still match its count row
        # (groupBy keeps a NULL group) — a plain == would silently drop
        # NULL-cell vectors from the output, breaking the one-row-per-
        # input contract the uncapped path honors (ADVICE r6 #1).
        emb = emb.join(
            F.broadcast(counts.select("_ccell", n_sub.alias("_n_sub"))),
            emb[cell_col].eqNullSafe(F.col("_ccell")),
        ).withColumn("_sub", md5_hex8_long(F.col(id_col), salt="semsub:") % F.col("_n_sub"))
    else:
        emb = emb.withColumn("_sub", F.lit(0).cast("long"))

    # Round-robin repartition with a PINNED count, same reasoning as
    # blocked_editdistance_pairs: the pairwise cosine is CPU-bound at
    # small byte volume and the cells frame is broadcast, so the probe
    # side needs no co-location — it must simply not inherit the
    # input's split count (one parquet file would serialize every
    # comparison into a single task, and AQE would coalesce an unpinned
    # exchange right back). Round-robin also beats hashing on the cell
    # key itself: with few cells, a hot cell would pin to one task.
    n_part = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    left = emb.select(
        F.col(cell_col).alias("_cell"),
        F.col("_sub").alias("_lsub"),
        F.col(id_col).alias("_lid"),
        F.col(vec_col).alias("_lv"),
    ).repartition(n_part)
    right = emb.select(
        F.col(cell_col).alias("_rcell"),
        F.col("_sub").alias("_rsub"),
        F.col(id_col).alias("_rid"),
        F.col(vec_col).alias("_rv"),
    )
    dropped = (
        left.join(
            right,
            (left["_cell"] == right["_rcell"])
            & (left["_lsub"] == right["_rsub"])
            & (left["_lid"] < right["_rid"]),
        )
        .filter(cosine("_lv", "_rv") >= threshold)
        .select(F.col("_rid").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return (
        emb.select(id_col, F.col(cell_col).alias("cell"))
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cell",
            (F.coalesce(F.col("_dropped"), F.lit(0)) == 0).cast("int").alias("is_kept"),
        )
    )


def incremental_exact_dedup(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingest dedup: classify each NEW-batch document against
    the already-ingested corpus AND within its own batch → (id, status)
    with status ∈ {'dup_of_history', 'dup_in_batch', 'unique'}.

    History wins over in-batch (a doc matching both is 'dup_of_history');
    within the batch the smallest id is the keeper ('unique'), later
    copies are 'dup_in_batch'. Exact fingerprint = md5 of the text.

    Scale shape: the join shuffles on the fingerprint — the BATCH side
    is the small daily increment, so the cost driver is re-shuffling the
    history fingerprint set every run. At 100 TB don't: persist history
    fingerprints as a bucketed table on fp (`operators/bucketing`) so
    only the batch side exchanges, or put a Bloom bitmap of history fps
    in front (`functions/bloom`) and exact-join only Bloom-positive
    batch rows. The in-batch window shuffles batch rows only.
    """
    fp = F.md5(F.col(text_col))
    b = batch.select(F.col(id_col), fp.alias("_fp"))
    h = history.select(fp.alias("_fp")).distinct().withColumn("_inh", F.lit(1))
    w = Window.partitionBy("_fp").orderBy(id_col)
    b2 = b.withColumn("_rn", F.row_number().over(w))
    status = (
        F.when(F.col("_inh") == 1, "dup_of_history")
        .when(F.col("_rn") > 1, "dup_in_batch")
        .otherwise("unique")
    )
    return b2.join(h, "_fp", "left").select(id_col, status.alias("status"))


def incremental_neardup_dedup(
    batch: DataFrame,
    history_banded: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    compact: bool = False,
    history_band_member_cap: int | None = None,
) -> DataFrame:
    """Near-dup triage of a NEW batch against a persisted banded-
    signature STORE — the incremental form of ``minhash_lsh_pairs``
    (and the near-dup sibling of ``incremental_exact_dedup``):
    history text is NEVER re-read or re-hashed; only its
    (id, sig, band_id, band_hash) rows (``banded_signatures`` output,
    the thing a production pipeline persists per ingest) participate.
    → (id, status), one row per batch doc, status ∈
    {'neardup_of_history', 'neardup_in_batch', 'unique'}.

    Rules (deterministic, one-pass): history wins — any batch doc with
    a history neighbor at est-Jaccard ≥ threshold is
    'neardup_of_history'; otherwise a doc with a SMALLER-id batch
    neighbor at ≥ threshold is 'neardup_in_batch' (the same
    smaller-id-shadows rule as SemDeDup cells — parallel, no iteration
    order); else 'unique'. Docs with < k tokens have no signature and
    are structurally 'unique'.

    Scale shape: the batch side is the small daily increment — its
    signatures cost one text pass; both joins are equi-joins on
    (band_id, band_hash), and the history store is pre-bucketed on
    exactly that key in production so ONLY the batch side exchanges
    (`operators/bucketing`). Nothing quadratic: candidate pairs are
    band-bucket collisions, same as the batch-mode LSH path.

    ``history_band_member_cap``: hot-bucket guard for the STORE side
    (VERDICT r6 #5). A year-old store accumulates boilerplate mass — a
    single (band_id, band_hash) bucket with m history members turns
    every colliding batch doc into m candidate verifications, so one
    templated band can dominate the whole triage join even though the
    plan is an equi-join. Buckets with more than the cap members are
    dropped from the HISTORY side of candidate generation (the same
    production mitigation as ``band_member_cap`` in
    ``minhash_lsh_pairs``: such buckets are common-template mass better
    handled by exact dedup, and a true near-dup usually still shares a
    non-hot band). Direction: under-flags 'neardup_of_history' for
    template members only. In production, compute the per-bucket count
    ONCE at store-compaction time and persist it as a store column —
    here it's a window count over the store, which co-partitions with
    the store's (band_id, band_hash) bucketing so no extra exchange of
    the batch side.

    Raises ``TypeError`` if the persisted store's signature element
    type disagrees with ``compact`` (hex strings vs longs) — otherwise
    ``array_intersect`` between mismatched families silently finds zero
    overlap and every batch doc comes back 'unique' (ADVICE r6 #2).
    """
    from pyspark.sql.types import ArrayType, LongType, StringType

    sig_type = history_banded.schema["sig"].dataType
    want = LongType() if compact else StringType()
    if not (isinstance(sig_type, ArrayType) and sig_type.elementType == want):
        raise TypeError(
            f"history store sig is {sig_type.simpleString()} but "
            f"compact={compact} expects array<{want.simpleString()}> — "
            "the store was persisted with different signature parameters"
        )
    bb = banded_signatures(
        batch, text_col, id_col, num_hashes, num_bands, k, compact=compact
    )
    hb = history_banded.select(
        F.col("id").alias("h_id"),
        F.col("sig").alias("h_sig"),
        "band_id",
        "band_hash",
    )
    if history_band_member_cap is not None:
        w = Window.partitionBy("band_id", "band_hash")
        hb = (
            hb.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= history_band_member_cap)
            .drop("_n")
        )
    overlap_h = F.size(F.array_intersect("sig", "h_sig"))
    hist_hits = (
        bb.join(hb, ["band_id", "band_hash"])
        .filter(F.col("id") != F.col("h_id"))
        .filter(
            overlap_h.cast("double") / F.lit(float(num_hashes)) >= jaccard_threshold
        )
        .select("id")
        .distinct()
        .withColumn("_inh", F.lit(1))
    )
    left = bb.select("id", "sig", "band_id", "band_hash")
    right = bb.select(
        F.col("id").alias("r_id"),
        F.col("sig").alias("r_sig"),
        "band_id",
        "band_hash",
    )
    overlap_b = F.size(F.array_intersect("sig", "r_sig"))
    batch_hits = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("id") > F.col("r_id"))  # smaller-id neighbor shadows
        .filter(
            overlap_b.cast("double") / F.lit(float(num_hashes)) >= jaccard_threshold
        )
        .select("id")
        .distinct()
        .withColumn("_inb", F.lit(1))
    )
    status = (
        F.when(F.col("_inh") == 1, "neardup_of_history")
        .when(F.col("_inb") == 1, "neardup_in_batch")
        .otherwise("unique")
    )
    return (
        batch.select(F.col(id_col).alias("id"))
        .join(hist_hits, "id", "left")
        .join(batch_hits, "id", "left")
        .select(F.col("id").alias(id_col), status.alias("status"))
    )


def blocked_editdistance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 4,
    max_distance: int = 60,
) -> DataFrame:
    """Edit-distance near-dup pairs via prefix blocking (the classic
    record-linkage construction): block on the first ``block_tokens``
    tokens, compare only within-block pairs, keep pairs with Levenshtein
    distance ≤ ``max_distance`` → (left_id, right_id, edit_distance).

    Complements MinHash-LSH: Jaccard is order-insensitive (a shuffled
    template looks identical), edit distance is order-exact — the
    verification metric for "same document, small edits" (versioned
    pages, typo families). Blocking is what makes it scale: the
    quadratic comparison is confined to same-prefix blocks (one
    fixed-width equi-join shuffle), never the corpus. Prefix blocking
    misses near-dups whose edits touch the first tokens — the standard
    trade-off; run multiple block keys (prefix/suffix/mid) and union for
    higher recall. Levenshtein is an integer, so the oracle compares
    exactly.
    """
    toks = F.split(F.col(text_col), " ")
    blocked = df.select(
        F.col(id_col),
        F.col(text_col),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, block_tokens))).alias("_bk"),
    )
    # Repartition the probe side by block key: the Levenshtein DP is
    # CPU-bound (O(len²) per pair), so comparison work must spread
    # across tasks by BLOCK, not by however many input splits the file
    # happened to have (a single-file corpus would otherwise serialize
    # every comparison into one task — measured 5.5 s → 0.7 s at sf0.1).
    # Round-robin with a PINNED count: the other side is broadcast, so
    # the probe needs no key co-location — round-robin spreads evenly
    # even under block skew, and pinning the count stops AQE's
    # coalescePartitions folding these few MB back into one task
    # (bytes are small here, CPU is not).
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    left = blocked.select(
        F.col("_bk"),
        F.col(id_col).alias("left_id"),
        F.col(text_col).alias("_lt"),
    ).repartition(n_part)
    right = blocked.select(
        F.col("_bk").alias("_rbk"),
        F.col(id_col).alias("right_id"),
        F.col(text_col).alias("_rt"),
    )
    dist = F.levenshtein(F.col("_lt"), F.col("_rt"))
    return (
        left.join(
            right,
            (left["_bk"] == right["_rbk"]) & (F.col("left_id") < F.col("right_id")),
        )
        .filter(dist <= max_distance)
        .select("left_id", "right_id", dist.alias("edit_distance"))
    )


# ------------------------------------------------- substring-span dedup
#
# Token-level EXACT substring dedup (VERDICT r8 #5): find documents that
# share a long (>= k-token) verbatim span with ANOTHER document and emit
# a trim/drop decision per document — the "dedup repeated substrings
# across documents" operator from Lee et al. 2022 ("Deduplicating
# Training Data Makes Language Models Better"), re-expressed for a
# cluster instead of a driver-side suffix array.
#
# Shape: anchor k-grams. Every k-token window hashes to an anchor; two
# docs share a >= k-token span iff they share an anchor, and a LONGER
# shared span is a run of consecutive shared anchors on one (l, r)
# "diagonal" (pl - pr constant) — so maximal spans fall out of a
# row_number run-group per (l, r, diagonal), never a suffix array, never
# a driver collect. The anchor bucket is capped (same guard family as
# minhash buckets / SemDeDup cells): a boilerplate k-gram shared by
# millions of docs would otherwise explode the self-join to members²
# pairs; the cap keeps any bucket's contribution <= cap², making worst-
# case work linear in corpus size. Cap membership is deterministic
# (first `bucket_cap` grams by (doc_id, position)), so the DuckDB oracle
# replicates capped results EXACTLY.


def substring_span_grams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 6
) -> DataFrame:
    """(id, p, h): md5 anchor of every k-token window, p 1-indexed —
    matching the oracle's ``ws[i:i+k-1]`` slice positions."""
    c = F.col(text_col)
    return ensure_min_parallelism(df).select(
        F.col(id_col),
        F.posexplode(shingles(c, k)).alias("p0", "gram"),
    ).select(
        id_col, (F.col("p0") + 1).alias("p"), F.md5("gram").alias("h")
    )


def substring_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
    bucket_cap: int = 20,
    drop_num: int = 1,
    drop_den: int = 2,
) -> DataFrame:
    """Per-document longest cross-document verbatim span and the
    trim/drop decision → (id, n_tokens, span_tokens, partner_id,
    action) with action ∈ keep | trim | drop:

    - ``keep``: no >= k-token span shared with any other document;
    - ``trim``: shared span(s) exist but the longest covers less than
      ``drop_num/drop_den`` of the document (production pipelines cut
      the span, keep the rest);
    - ``drop``: the longest shared span covers >= drop_num/drop_den of
      the document — it IS the duplicate.

    The drop test is exact integer arithmetic
    (``span·den >= n_tokens·num``) so no float boundary can drift
    between engines. ``partner_id`` is the smallest partner achieving
    the longest span (deterministic tie-break). Documents with NULL
    text keep (no tokens ⇒ no anchors), with NULL n_tokens.

    Scale: 2 shuffles on the anchor hash (cap window + pair join), one
    on (l, r, diagonal) for run detection, one on doc for the
    per-document best — all equi-key, no cross join anywhere; the
    bucket cap bounds every bucket's pair fan-out at cap² regardless of
    how pathological the boilerplate is."""
    grams = substring_span_grams(df, text_col, id_col, k)
    capped = topk_rows(grams, "h", [id_col, "p"], bucket_cap).drop("rank")
    left = capped.select(
        F.col(id_col).alias("l_id"), F.col("p").alias("pl"), "h"
    )
    right = capped.select(
        F.col(id_col).alias("r_id"), F.col("p").alias("pr"), "h"
    )
    pairs = left.join(right, "h").filter(F.col("l_id") < F.col("r_id")).select(
        "l_id", "r_id", "pl", (F.col("pl") - F.col("pr")).alias("diag")
    )
    wrun = Window.partitionBy("l_id", "r_id", "diag").orderBy("pl")
    runs = pairs.withColumn("grp", F.col("pl") - F.row_number().over(wrun))
    spans = (
        runs.groupBy("l_id", "r_id", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).alias("span_tokens"))
        .groupBy("l_id", "r_id")
        .agg(F.max("span_tokens").alias("span"))
    )
    sym = spans.select(
        F.col("l_id").alias(id_col), F.col("r_id").alias("partner_id"), "span"
    ).unionByName(
        spans.select(
            F.col("r_id").alias(id_col), F.col("l_id").alias("partner_id"), "span"
        )
    )
    best = topk_rows(sym, id_col, ["-span", "partner_id"], 1).select(
        id_col, "partner_id", "span"
    )
    c = F.col(text_col)
    docs = df.select(
        F.col(id_col),
        F.when(c.isNotNull(), F.size(tokens(c))).cast("long").alias("n_tokens"),
    )
    out = docs.join(best, id_col, "left")
    action = (
        F.when(F.col("partner_id").isNull(), F.lit("keep"))
        .when(
            F.col("span") * drop_den >= F.col("n_tokens") * drop_num,
            F.lit("drop"),
        )
        .otherwise(F.lit("trim"))
    )
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("span"), F.lit(0)).cast("long").alias("span_tokens"),
        "partner_id",
        action.alias("action"),
    )


def substring_span_trim(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
) -> DataFrame:
    """The TRANSFORMER sibling of ``substring_span_dedup``: remove the
    duplicated spans instead of just flagging them → (id, n_tokens,
    dup_tokens, n_spans, trimmed_text).

    A token position is DUPLICATED iff it lies inside some k-gram whose
    anchor hash occurs in at least one OTHER document (cross-document
    share only — internal repetition within one doc does not trim).
    ``dup_tokens`` is the exact size of the union of those intervals,
    computed with the winnowing sweep (first shared anchor contributes
    k, each next one min(k, gap)) — a window lag over (doc, position),
    one shuffle on the doc key, no interval explosion. ``n_spans``
    counts maximal covered runs (gap > k starts a new span).
    ``trimmed_text`` keeps the uncovered tokens in order.

    Scale: the shared-anchor flag is ONE aggregate on the anchor hash
    (count of distinct docs ≥ 2) — no pair join exists in this
    operator at all, so no member cap is needed; work is linear in
    corpus size. The per-token coverage test folds over the doc's own
    shared-anchor array (O(n_tokens · |shared starts|) per doc —
    bounded by document length squared, independent of corpus size).
    Documents with NULL text pass through with NULL n_tokens and empty
    coverage."""
    grams = substring_span_grams(df, text_col, id_col, k)
    shared_h = (
        grams.groupBy("h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("h")
    )
    starts = grams.join(shared_h, "h").select(id_col, "p")
    return _trim_with_anchor_starts(df, starts, text_col, id_col, k)


def substring_span_trim_cross(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
) -> DataFrame:
    """Benchmark-span DECONTAMINATION transformer (r9): remove from
    each training document every span of ≥ ``k`` tokens that appears
    VERBATIM in the benchmark corpus → same output shape as
    ``substring_span_trim``. This is the surgical upgrade of
    drop-the-whole-document decontamination (``contamination_ngram_
    overlap`` flags; this trims just the leaked text and keeps the
    rest of the document).

    Scale shape: the benchmark anchor-hash set is DISTINCT'd and
    broadcast (eval suites are MBs against a 100 TB corpus), so the
    training side never shuffles for the probe — the start positions
    fall out of the scan-stage broadcast join, and the winnowing sweep
    is the same one window lag per document as the self-trim. No pair
    join, no cap needed, linear in corpus size."""
    grams = substring_span_grams(df, text_col, id_col, k)
    bench_h = (
        substring_span_grams(benchmark, text_col, id_col, k)
        .select("h")
        .distinct()
    )
    starts = grams.join(F.broadcast(bench_h), "h").select(id_col, "p")
    return _trim_with_anchor_starts(df, starts, text_col, id_col, k)


def _trim_with_anchor_starts(
    df: DataFrame,
    starts: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Shared winnowing sweep + trim: given (id, p) anchor-start rows,
    compute the exact covered-interval union size, maximal-run count,
    and the text with covered tokens removed (see callers)."""
    wlag = Window.partitionBy(id_col).orderBy("p")
    prev = F.lag("p").over(wlag)
    contrib = F.when(prev.isNull(), F.lit(k)).otherwise(
        F.least(F.lit(k), F.col("p") - prev)
    )
    new_span = F.when(prev.isNull() | (F.col("p") - prev > k), 1).otherwise(0)
    cov = (
        starts.select(
            id_col,
            "p",
            contrib.alias("_contrib"),
            new_span.alias("_new_span"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_contrib").cast("long").alias("dup_tokens"),
            F.sum("_new_span").cast("long").alias("n_spans"),
            F.sort_array(F.collect_list("p")).alias("_starts"),
        )
    )
    c = F.col(text_col)
    toks = tokens(c)
    out = df.select(
        F.col(id_col),
        F.when(c.isNotNull(), F.size(toks)).cast("long").alias("n_tokens"),
        toks.alias("_toks"),
    ).join(cov, id_col, "left")
    starts_arr = F.coalesce(
        F.col("_starts"), F.array().cast("array<int>")
    )
    # keep token i (1-indexed) iff no shared anchor start s covers it
    # (s <= i <= s + k - 1)
    idx = F.when(
        F.col("_toks").isNotNull(),
        F.sequence(F.lit(1), F.greatest(F.size("_toks"), F.lit(1))),
    )
    kept = F.filter(
        idx,
        lambda i: (i <= F.size("_toks"))
        & ~F.exists(
            starts_arr, lambda s: (s <= i) & (i <= s + F.lit(k - 1))
        ),
    )
    trimmed = F.when(
        F.col("_toks").isNotNull(),
        F.concat_ws(
            " ", F.transform(kept, lambda i: F.element_at("_toks", i))
        ),
    )
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        trimmed.alias("trimmed_text"),
    )


def incremental_substring_dedup(
    batch: DataFrame,
    anchor_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
) -> DataFrame:
    """Continuous-ingest triage for the substring-span family: label
    each batch document against a persisted ANCHOR STORE (the (h)
    k-gram hashes of all previously admitted documents) →
    (id, status) with status ∈ dup_of_history | dup_in_batch | unique:

    - ``dup_of_history``: shares ≥ one k-gram anchor with an earlier
      ingest's document (the store);
    - ``dup_in_batch``: first match is a SMALLER-id document in the
      same batch (the deterministic shadow rule shared with
      ``incremental_neardup_dedup``);
    - ``unique`` otherwise.

    Both membership tests are LEFT-SEMI joins on the anchor hash —
    existence only, so a boilerplate anchor shared by millions of
    store rows cannot fan out the probe (semi-join never multiplies
    rows; no member cap needed, unlike the pair-emitting
    ``substring_span_dedup``). With the store bucketed on ``h`` only
    the small batch side exchanges. Documents shorter than k tokens
    have no anchors and label 'unique'."""
    grams = substring_span_grams(batch, text_col, id_col, k)
    store_h = anchor_store.select("h")
    hist_docs = (
        grams.join(store_h, "h", "left_semi").select(id_col).distinct()
    )
    peers = grams.select(F.col(id_col).alias("_r_id"), "h")
    batch_docs = (
        grams.alias("l")
        .join(
            peers,
            (F.col("l.h") == peers["h"])
            & (F.col(f"l.{id_col}") > F.col("_r_id")),
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    return (
        batch.select(id_col)
        .join(hist_docs.withColumn("_hist", F.lit(1)), id_col, "left")
        .join(batch_docs.withColumn("_batch", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_hist") == 1, F.lit("dup_of_history"))
            .when(F.col("_batch") == 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """ASYMMETRIC containment pairs — the subset/quote detector that
    symmetric Jaccard misses: containment(S→L) = |S∩L| / |S| is high
    when the smaller document's shingles are (mostly) embedded in the
    larger one even though Jaccard is low (a tweet quoted inside an
    article scores jaccard ≈ |tweet|/|article| but containment ≈ 1).
    Emits (small_id, big_id, containment, jaccard, n_small, n_big) for
    pairs with containment ≥ ``threshold``, smaller-by-shingle-count
    document first (ties by id) — the standard "drop the contained
    duplicate, keep the superset" decision input.

    Scale shape: same equi-join-on-shingle skeleton as
    ``ngram_jaccard_pairs``; the Jaccard length-ratio prefilter does
    NOT apply (containment deliberately pairs unequal sizes), so the
    hot-shingle guard is ``max_shingle_freq``: shingles appearing in
    more than that many documents are dropped from the candidate join
    (boilerplate shingles pair everything with everything — the same
    stop-shingle pruning published MinHash pipelines apply). The
    filter is mirrored in the oracle, so gated results stay exact.
    """
    ex = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(shingles(text_col, k)).alias("sh"),
        )
        .distinct()
        .withColumn("shh", F.md5("sh"))
        .select("id", "shh")
    )
    hot = (
        ex.groupBy("shh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_shingle_freq)
        .select("shh")
    )
    probe = ex.join(F.broadcast(hot), "shh", "left_anti")
    # sizes over the SAME pruned shingle set as the intersection, so
    # containment is a consistent measure on non-boilerplate shingles
    sizes = probe.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    l, r = probe.alias("l"), probe.alias("r")
    inter = (
        l.join(
            r,
            on=[
                F.col("l.shh") == F.col("r.shh"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    both = (
        inter.join(sa, F.col("a") == F.col("sa.id"))
        .join(sb, F.col("b") == F.col("sb.id"))
        .select(
            "a", "b", "n_inter",
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
        )
    )
    small_first = both.select(
        F.when(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("a") < F.col("b"))),
            F.col("a"),
        ).otherwise(F.col("b")).alias("small_id"),
        F.when(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("a") < F.col("b"))),
            F.col("b"),
        ).otherwise(F.col("a")).alias("big_id"),
        "n_inter",
        F.least("n_a", "n_b").alias("n_small"),
        F.greatest("n_a", "n_b").alias("n_big"),
    )
    return (
        small_first.withColumn(
            "containment",
            F.round(
                F.col("n_inter") / F.col("n_small").cast("double"), 6
            ),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_small") + F.col("n_big") - F.col("n_inter"))
                .cast("double"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "small_id", "big_id", "containment", "jaccard",
            "n_small", "n_big",
        )
    )
