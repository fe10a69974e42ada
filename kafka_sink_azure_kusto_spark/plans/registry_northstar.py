"""North-star training-data-pipeline queries (SURVEY §7.3.6, additive —
no reference citations): dedup family, similarity search, text
analysis, multimodal columns. Registered into the same registry as the
dataflow queries; every oracle is literally the same algorithm in
DuckDB SQL (md5/ascii arithmetic, identical window/shingle indexing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_sink_azure_kusto_spark.functions import dedup as D
from kafka_sink_azure_kusto_spark.functions import similarity as S
from kafka_sink_azure_kusto_spark.functions import text as T
from kafka_sink_azure_kusto_spark.functions import multimodal as M
from kafka_sink_azure_kusto_spark.plans.registry import _workdir, register
from kafka_sink_azure_kusto_spark.sources.tables import load_table

# Shared SQL fragments -------------------------------------------------------

_NORM_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

# 3-token shingles; range(1, greatest(n-1, 1)) yields 1..n-2 (= n-k+1 windows)
_SHINGLES_SQL = """
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                         i -> array_to_string(ws[i:i+2], ' '))) AS s
           FROM words)
"""

_STOP = {
    "en": "('the','a','of','and','to')",
    "es": "('el','la','de','que','y')",
    "de": "('der','die','und','das','ist')",
}
_SW_COUNT = {
    lang: f"len(list_filter(string_split(text, ' '), x -> x IN {words}))"
    for lang, words in _STOP.items()
}


# ============================================================ dedup family


@register(
    "dedup_exact",
    f"""
    SELECT {_NORM_FP} AS fp,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text md5 fingerprint;
    keep lowest doc_id per cluster. Shuffle key is the 32-char hash, not
    the document text — constant shuffle width at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", T.fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLES_SQL},
    mh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|')) AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
             FROM banded l JOIN banded r
               ON l.band_id = r.band_id AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id)
    SELECT left_id, right_id,
           len(list_intersect(ls.sig, rs.sig)) * 1.0 / 16 AS est_jaccard
    FROM cand JOIN sig ls ON left_id = ls.doc_id
              JOIN sig rs ON right_id = rs.doc_id
    WHERE len(list_intersect(ls.sig, rs.sig)) * 1.0 / 16 >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash (16 md5-seeded hashes over 3-token
    shingles) + LSH banding (4 bands × 4 rows). The only shuffle is the
    equi-join on (band_id, band_hash); no O(n²) stage anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.5
    )


@register(
    "dedup_minhash_lsh_capped",
    f"""
    WITH {_SHINGLES_SQL},
    mh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|')) AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    capped AS (SELECT doc_id, sig, band_id, band_hash FROM (
                   SELECT banded.*,
                          COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bn
                   FROM banded)
               WHERE bn <= 2),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
             FROM capped l JOIN capped r
               ON l.band_id = r.band_id AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id)
    SELECT left_id, right_id,
           len(list_intersect(ls.sig, rs.sig)) * 1.0 / 16 AS est_jaccard
    FROM cand JOIN sig ls ON left_id = ls.doc_id
              JOIN sig rs ON right_id = rs.doc_id
    WHERE len(list_intersect(ls.sig, rs.sig)) * 1.0 / 16 >= 0.5
    """,
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with the hot-band member cap (2):
    (band_id, band_hash) buckets holding more than 2 documents are
    dropped from candidate generation — the production guard against
    templated corpora where one band bucket goes quadratic. Cap low
    enough to BITE on the test corpus so the gate verifies the guard,
    not just the happy path."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.5,
        band_member_cap=2,
    )


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_SQL},
    dsh AS (SELECT DISTINCT doc_id, md5(s) AS shh FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    inter AS (SELECT l.doc_id AS left_id, r.doc_id AS right_id, COUNT(*) AS n_inter
              FROM dsh l JOIN dsh r ON l.shh = r.shh AND l.doc_id < r.doc_id
              GROUP BY 1, 2)
    SELECT left_id, right_id,
           n_inter * 1.0 / (sl.n_sh + sr.n_sh - n_inter) AS jaccard
    FROM inter JOIN sizes sl ON left_id = sl.doc_id
               JOIN sizes sr ON right_id = sr.doc_id
    WHERE n_inter * 1.0 / (sl.n_sh + sr.n_sh - n_inter) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.5 — candidates restricted to pairs
    sharing ≥1 shingle (equi-join on shingle hash), then |∩|/|∪| from
    per-pair and per-doc distinct-shingle counts."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, k=3, threshold=0.5)


@register(
    "dedup_simhash",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    hx AS (SELECT doc_id, bi.i AS i,
                  ascii(substr(md5(tok), CAST(FLOOR(bi.i / 4.0) AS INT) + 1, 1)) AS a
           FROM toks CROSS JOIN (SELECT unnest(range(0, 64)) AS i) bi),
    bitw AS (SELECT doc_id, i,
                    SUM(2 * (CAST(FLOOR(
                        (CASE WHEN a >= 97 THEN a - 87 ELSE a - 48 END)
                        / pow(2, 3 - i % 4)) AS INT) % 2) - 1) AS w
             FROM hx GROUP BY doc_id, i),
    sig AS (SELECT doc_id, list(CASE WHEN w > 0 THEN 1 ELSE 0 END ORDER BY i) AS bits
            FROM bitw GROUP BY doc_id),
    blocked AS (SELECT doc_id, bits, bs.b AS block_id,
                       array_to_string(bits[bs.b*16+1 : bs.b*16+16], '') AS block_bits
                FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
             FROM blocked l JOIN blocked r
               ON l.block_id = r.block_id AND l.block_bits = r.block_bits
              AND l.doc_id < r.doc_id)
    SELECT left_id, right_id,
           len(list_filter(range(1, 65), i -> ls.bits[i] <> rs.bits[i])) AS hamming
    FROM cand JOIN sig ls ON left_id = ls.doc_id
              JOIN sig rs ON right_id = rs.doc_id
    WHERE len(list_filter(range(1, 65), i -> ls.bits[i] <> rs.bits[i])) <= 8
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature from md5 token hashes,
    block-LSH candidates (4 × 16-bit blocks), Hamming ≤ 8. The oracle
    mirrors the block-candidate algorithm exactly (same recall bound)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(docs, max_hamming=8, num_blocks=4)
    return pairs.select(
        "left_id", "right_id", F.col("hamming").cast("bigint").alias("hamming")
    )


def _mh_compact_base_sql() -> str:
    """Value of the first 8 hex digits of md5(s) as BIGINT, reduced mod
    2³¹−1 — the generated per-digit mirror of the compact minhash BASE
    (one md5 per shingle; the 16 signature hashes are then the
    universal-hash family (a_i·x + b_i) mod 2³¹−1 over this base,
    constants shared from functions/dedup.COMPACT_PERMS so the two
    engines cannot drift)."""
    acc = "CAST(0 AS BIGINT)"
    for i in range(1, 9):
        d = f"ascii(substr(md5(s), {i}, 1))"
        val = f"(CASE WHEN {d} >= 97 THEN {d} - 87 ELSE {d} - 48 END)"
        acc = f"({acc} * 16 + {val})"
    return f"({acc} % {D.COMPACT_MERSENNE})"


_MH_A_LIST = "[" + ", ".join(str(a) for a, _ in D.COMPACT_PERMS) + "]"
_MH_B_LIST = "[" + ", ".join(str(b) for _, b in D.COMPACT_PERMS) + "]"
_MH_COMPACT = (
    f"(({_MH_A_LIST})[hs.h + 1] * x + ({_MH_B_LIST})[hs.h + 1]) "
    f"% {D.COMPACT_MERSENNE}"
)
_MH_COMPACT_BASE = _mh_compact_base_sql()

@register(
    "dedup_minhash_lsh_compact",
    f"""
    WITH {_SHINGLES_SQL},
    base AS (SELECT doc_id, {_MH_COMPACT_BASE} AS x FROM sh),
    mh AS (SELECT doc_id, hs.h AS h, MIN({_MH_COMPACT}) AS mv
           FROM base CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(
                          list_transform(sig[bs.b*4+1 : bs.b*4+4],
                                         x -> CAST(x AS VARCHAR)), '|')) AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
             FROM banded l JOIN banded r
               ON l.band_id = r.band_id AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id)
    SELECT left_id, right_id,
           len(list_intersect(ls.sig, rs.sig)) * 1.0 / 16 AS est_jaccard
    FROM cand JOIN sig ls ON left_id = ls.doc_id
              JOIN sig rs ON right_id = rs.doc_id
    WHERE len(list_intersect(ls.sig, rs.sig)) * 1.0 / 16 >= 0.5
    """,
)
def dedup_minhash_lsh_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with COMPACT signatures (r7 family):
    each signature element is h_i(x) = (a_i·x + b_i) mod 2³¹−1 over a
    31-bit md5-derived base x — ONE md5 per shingle (the r6
    digit-window family cost 4, the hex family 16), the rest is
    integer multiply-add inside whole-stage codegen. A persisted
    signature store holds 16×8 = 128 bytes/doc instead of 512 (hex
    strings), and candidate verification compares longs, not 32-char
    strings. Motivated by the r6 store-size probe: on short documents
    the hex store was LARGER than the corpus text, inverting the
    incremental-dedup economics. Same plan shape as
    `dedup_minhash_lsh`. The oracle mirrors the base digit-by-digit
    and the permutation constants verbatim (shared from
    `functions/dedup.COMPACT_PERMS`) but keeps hex-string band hashes
    — band hashes only drive bucket EQUALITY inside each engine, and
    the compact 60-bit long is injective on the hex value, so the
    candidate sets (and the gated output) agree while the
    implementations stay independent."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.5, compact=True
    )


@register(
    "dedup_incremental_neardup",
    f"""
    WITH {_SHINGLES_SQL},
    mh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|')) AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    bb AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
    hb AS (SELECT * FROM banded WHERE doc_id % 3 != 0),
    hist_hits AS (SELECT DISTINCT b.doc_id
                  FROM bb b JOIN hb h
                    ON b.band_id = h.band_id AND b.band_hash = h.band_hash
                  WHERE len(list_intersect(b.sig, h.sig)) * 1.0 / 16 >= 0.5),
    batch_hits AS (SELECT DISTINCT l.doc_id
                   FROM bb l JOIN bb r
                     ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                    AND l.doc_id > r.doc_id
                   WHERE len(list_intersect(l.sig, r.sig)) * 1.0 / 16 >= 0.5)
    SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM hist_hits)
                     THEN 'neardup_of_history'
                WHEN d.doc_id IN (SELECT doc_id FROM batch_hits)
                     THEN 'neardup_in_batch'
                ELSE 'unique' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    """,
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup triage (r6): the batch (doc_id % 3 = 0)
    classifies against a banded-signature STORE built from the history
    partition (% 3 != 0) — history text is never re-read, mirroring a
    production pipeline that persists `banded_signatures` per ingest
    and joins only the signature store
    (functions/dedup.incremental_neardup_dedup). The exact sibling is
    `dedup_incremental`; the batch-mode form is `dedup_minhash_lsh`."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    history = docs.filter(F.col("doc_id") % 3 != 0)
    store = D.banded_signatures(history, "text", "doc_id", 16, 4, 3)
    return D.incremental_neardup_dedup(
        batch, store, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.5
    )


@register(
    "dedup_incremental_neardup_capped",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM
            (SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 != 0)),
    sh AS (SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                         i -> array_to_string(ws[i:i+2], ' '))) AS s
           FROM words),
    mh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|')) AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    bb AS (SELECT * FROM banded WHERE doc_id < 1000000 AND doc_id % 3 = 0),
    hb AS (SELECT * FROM banded
           WHERE (doc_id % 3 != 0 AND doc_id < 1000000) OR doc_id >= 1000000
           QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_hash) <= 1),
    hist_hits AS (SELECT DISTINCT b.doc_id
                  FROM bb b JOIN hb h
                    ON b.band_id = h.band_id AND b.band_hash = h.band_hash
                  WHERE len(list_intersect(b.sig, h.sig)) * 1.0 / 16 >= 0.5),
    batch_hits AS (SELECT DISTINCT l.doc_id
                   FROM bb l JOIN bb r
                     ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                    AND l.doc_id > r.doc_id
                   WHERE len(list_intersect(l.sig, r.sig)) * 1.0 / 16 >= 0.5)
    SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM hist_hits)
                     THEN 'neardup_of_history'
                WHEN d.doc_id IN (SELECT doc_id FROM batch_hits)
                     THEN 'neardup_in_batch'
                ELSE 'unique' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    """,
)
def dedup_incremental_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup triage with the HISTORY hot-bucket cap
    (r7, VERDICT r6 #5): store buckets holding more than the cap
    members are dropped from candidate generation — the guard against
    a year-old store's boilerplate band turning one batch doc into
    thousands of candidate verifications. The history here is the
    %3!=0 partition DOUBLED under shifted ids (the realistic
    re-ingested-template skew: every duplicated doc makes its 4 band
    buckets hot), and cap=1 so the guard demonstrably BITES on the
    test corpus — verified: 10 batch docs change status vs the
    uncapped sibling, because their only history neighbors live in
    hot buckets (cap=2 never fires here: a doc and its copy share
    the same bucket, n=2). The QUALIFY window in the oracle is the
    literal mirror of the Spark-side count-over-bucket filter."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    hist0 = docs.filter(F.col("doc_id") % 3 != 0)
    history = hist0.select("doc_id", "text").unionByName(
        hist0.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    store = D.banded_signatures(history, "text", "doc_id", 16, 4, 3)
    return D.incremental_neardup_dedup(
        batch, store, num_hashes=16, num_bands=4, k=3,
        jaccard_threshold=0.5, history_band_member_cap=1,
    )


@register(
    "dedup_store_compaction_lifecycle",
    f"""
    WITH {_SHINGLES_SQL},
    mh AS (SELECT doc_id, hs.h AS h, MIN(md5(hs.h || ':' || s)) AS mv
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
           GROUP BY doc_id, hs.h),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, bs.b AS band_id,
                      md5(array_to_string(sig[bs.b*4+1 : bs.b*4+4], '|')) AS band_hash
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    bb AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
    hb AS (SELECT * FROM banded WHERE doc_id % 3 != 0),
    hist_hits AS (SELECT DISTINCT b.doc_id
                  FROM bb b JOIN hb h
                    ON b.band_id = h.band_id AND b.band_hash = h.band_hash
                  WHERE len(list_intersect(b.sig, h.sig)) * 1.0 / 16 >= 0.5),
    batch_hits AS (SELECT DISTINCT l.doc_id
                   FROM bb l JOIN bb r
                     ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                    AND l.doc_id > r.doc_id
                   WHERE len(list_intersect(l.sig, r.sig)) * 1.0 / 16 >= 0.5)
    SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM hist_hits)
                     THEN 'neardup_of_history'
                WHEN d.doc_id IN (SELECT doc_id FROM batch_hits)
                     THEN 'neardup_in_batch'
                ELSE 'unique' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    """,
)
def dedup_store_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full signature-store LIFECYCLE under the driver gate (r8,
    VERDICT r7 #4): the history partition (% 3 != 0) arrives as THREE
    ingests — an initial bucketed write plus two ``append_bucketed``
    deltas (split by doc_id % 5: {0,1} / {2,3} / {4}) — the store is
    then ``compact_bucketed_table``-rewritten to one file per bucket,
    and the batch (% 3 = 0) is triaged against the COMPACTED store via
    `incremental_neardup_dedup`. The oracle is deliberately the SAME
    single-shot-history SQL as `dedup_incremental_neardup`: compaction
    and the append lifecycle must be RESULT-INVARIANT — any row lost
    or duplicated in the append→compact→swap path, or a bucket-spec
    drift that mis-routes the probe join, breaks the value hash.
    Store maintenance plumbing: `operators/bucketing.py`."""
    from kafka_sink_azure_kusto_spark.operators.bucketing import (
        append_bucketed,
        compact_bucketed_table,
        write_bucketed,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    tbl = "gate_sig_store_lifecycle"
    # DROP TABLE IF EXISTS only clears the CATALOG entry; a crashed
    # prior run (fresh in-memory catalog, surviving warehouse dir)
    # leaves the physical location behind and the next CREATE fails
    # with LOCATION_ALREADY_EXISTS — clear both.
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for suffix in ("", "__compact_staging", "__compact_old"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}{suffix}")
        shutil.rmtree(os.path.join(wh, f"{tbl}{suffix}"), ignore_errors=True)
    key = ["band_id", "band_hash"]

    def sigs(part: DataFrame) -> DataFrame:
        return D.banded_signatures(part, "text", "doc_id", 16, 4, 3)

    write_bucketed(
        sigs(hist.filter(F.col("doc_id") % 5 < 2)), tbl, key, num_buckets=8
    )
    append_bucketed(
        sigs(hist.filter((F.col("doc_id") % 5).isin(2, 3))),
        tbl, key, num_buckets=8,
    )
    append_bucketed(
        sigs(hist.filter(F.col("doc_id") % 5 == 4)), tbl, key, num_buckets=8
    )
    compact_bucketed_table(spark, tbl, key, num_buckets=8)
    return D.incremental_neardup_dedup(
        batch, spark.table(tbl), num_hashes=16, num_bands=4, k=3,
        jaccard_threshold=0.5,
    )


@register(
    "dedup_cc_clusters",
    None,  # oracle attached below (needs the minhash oracle text)
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical cluster id per document: connected components over the
    MinHash-LSH near-dup pair graph (min doc_id per component). The
    oracle computes the identical fixpoint with a recursive CTE —
    the converged labeling is algorithm-independent."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, k=3, jaccard_threshold=0.5
    )
    return D.connected_components(docs, pairs)


@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT l.vec_id AS left_id, r.vec_id AS right_id,
           round(list_dot_product(l.v, r.v) /
                 (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
                 6) AS cos_sim
    FROM e l JOIN e r ON l.vec_id < r.vec_id
    WHERE list_dot_product(l.v, r.v) /
          (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45 — the corpus max
    is ~0.51, so this exercises the boundary). Exact all-pairs variant
    for the oracle; the 100 TB path is ``hyperplane_lsh_buckets`` +
    within-bucket scoring (see ``similarity_lsh_bucketed``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.select(F.col("vec_id").alias("left_id"), F.col("embedding").alias("lv"))
    right = emb.select(F.col("vec_id").alias("right_id"), F.col("embedding").alias("rv"))
    pairs = left.join(right, F.col("left_id") < F.col("right_id"))
    cos = S.cosine("lv", "rv")
    return (
        pairs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.45)
        .select("left_id", "right_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


# Attach the CC oracle now that the minhash oracle text exists: the pair
# graph is the dedup_minhash_lsh result verbatim, the fixpoint a
# recursive CTE (transitive reachability → min reachable id).
from kafka_sink_azure_kusto_spark.plans.registry import _REGISTRY as _REG  # noqa: E402

_REG["dedup_cc_clusters"] = (
    _REG["dedup_cc_clusters"][0],
    f"""
    WITH RECURSIVE pairs0 AS (
      SELECT left_id, right_id FROM ({_REG['dedup_minhash_lsh'][1]})
    ),
    edges AS (
      SELECT left_id AS a, right_id AS b FROM pairs0
      UNION
      SELECT right_id AS a, left_id AS b FROM pairs0
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """,
)


# ===================================================== similarity search


@register(
    "similarity_topk_bruteforce",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_dot_product(qv, c.v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
                      AS score
               FROM e c CROSS JOIN q WHERE c.vec_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 per query vector (queries = vec_id < 5).
    broadcast(queries) × corpus — the corpus side never shuffles; the
    final top-k windows only the scored rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )


@register(
    "similarity_topk_ivf",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_dot_product(qv, c.v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
                      AS score
               FROM e c JOIN q ON c.label = qlabel WHERE c.vec_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe only the query's cell (here the precomputed
    ``label`` plays the coarse-quantizer cell). At scale the corpus
    parquet is partitioned by cell → pruning happens at the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )


@register(
    "similarity_ivf_multiprobe",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    pd AS (SELECT label AS cell, unnest(range(1, len(v) + 1)) AS i, v FROM e),
    cd AS (SELECT cell, i, AVG(v[i]) AS m FROM pd GROUP BY cell, i),
    cent AS (SELECT cell, list(round(m, 6) ORDER BY i) AS centroid
             FROM cd GROUP BY cell),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    qc AS (SELECT query_id, qv, cell FROM (
             SELECT q.query_id, q.qv, c.cell,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY list_dot_product(qv, c.centroid) /
                               (sqrt(list_dot_product(qv, qv)) *
                                sqrt(list_dot_product(c.centroid, c.centroid)))
                               DESC, c.cell ASC) AS cr
             FROM q CROSS JOIN cent c)
           WHERE cr <= 2),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_dot_product(qv, c.v) /
                      (sqrt(list_dot_product(qv, qv)) *
                       sqrt(list_dot_product(c.v, c.v))) AS score
               FROM e c JOIN qc ON c.label = qc.cell
               WHERE c.vec_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def similarity_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multiprobe ANN (the recall knob, functions/similarity.py):
    each query probes its 2 nearest centroid cells instead of only its
    own — centroid codebook from ``cell_centroids`` (per-cell mean),
    probe expansion on the broadcast side via ``multiprobe_cells``.
    Centroid components are rounded to 6 dp in BOTH engines before the
    probe ranking so partial-aggregation float-sum order can't flip a
    near-tie cell choice; candidate scores are computed from the raw
    vectors (exact, same fold order as the oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.cell_centroids(emb, cell_col="label").select(
        "cell", F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid")
    )
    out = S.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        cell_col="label",
        n_probe=2,
        centroids=cents,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )


@register(
    "embedding_pq_codes",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (SELECT vec_id, ms.m AS m, v[ms.m*8+1 : ms.m*8+8] AS sv
            FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS code, sv AS c FROM sub WHERE vec_id < 16),
    dist AS (SELECT s.vec_id, s.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (s.sv[i] - cb.c[i]) * (s.sv[i] - cb.c[i]))) AS d2
             FROM sub s JOIN cb ON s.m = cb.m),
    best AS (SELECT vec_id, m, code, d2,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                       ORDER BY d2, code) AS rn
             FROM dist)
    SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS BIGINT) AS code,
           round(d2, 6) AS qerr
    FROM best WHERE rn = 1
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (functions/similarity.pq_encode): 64-d
    vectors → 8 subspaces × nearest-of-16 codebook centroids = 8 small
    ints per vector, the standard compression for billion-vector ANN
    (codes scanned, full vectors fetched only for rerank). Codebook =
    the subvectors of the first 16 vectors (deterministic stand-in for
    per-subspace k-means — same plan shape). Distances in double with
    identical fold order in both engines; ties break toward the lower
    code via struct-min / ORDER BY d2, code."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = S.subvectors(emb.filter(F.col("vec_id") < 16), 8, 8).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    out = S.pq_encode(emb, cb, num_subspaces=8, sub_len=8)
    return out.select(
        "vec_id", "m", F.col("code").cast("bigint").alias("code"),
        F.round("qerr", 6).alias("qerr"),
    )


@register(
    "embedding_pq_adc_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (SELECT vec_id, ms.m AS m, v[ms.m*8+1 : ms.m*8+8] AS sv
            FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS code, sv AS c FROM sub WHERE vec_id < 16),
    dist AS (SELECT s.vec_id, s.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (s.sv[i] - cb.c[i]) * (s.sv[i] - cb.c[i]))) AS d2
             FROM sub s JOIN cb ON s.m = cb.m),
    codes AS (SELECT vec_id, m, code FROM (
                SELECT vec_id, m, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY d2, code) AS rn
                FROM dist) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, m, sv FROM sub WHERE vec_id < 5),
    dtab AS (SELECT q.query_id, q.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (q.sv[i] - cb.c[i]) * (q.sv[i] - cb.c[i]))) AS qd
             FROM q JOIN cb ON q.m = cb.m),
    adc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                   round(SUM(d.qd), 6) AS adc_d2
            FROM codes c JOIN dtab d ON c.m = d.m AND c.code = d.code
            WHERE d.query_id <> c.vec_id
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_d2, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
      FROM adc)
    WHERE rank <= 10
    """,
)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes
    (functions/similarity.pq_adc_topk): full-precision query × 8-int
    code words via a broadcast per-query distance table — the search
    half of product quantization; the corpus side scans only the
    compressed codes. Ranked by 6-dp-rounded approximate L2² so float
    sum order can't flip a near-tie across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = S.subvectors(emb.filter(F.col("vec_id") < 16), 8, 8).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    codes = S.pq_encode(emb, cb, num_subspaces=8, sub_len=8).select(
        "vec_id", "m", "code"
    )
    out = S.pq_adc_topk(
        codes, emb.filter(F.col("vec_id") < 5), cb,
        num_subspaces=8, sub_len=8, k=10,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_d2",
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "similarity_ivf_pq_topk",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (SELECT vec_id, ms.m AS m, v[ms.m*8+1 : ms.m*8+8] AS sv
            FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS code, sv AS c FROM sub WHERE vec_id < 16),
    dist AS (SELECT s.vec_id, s.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (s.sv[i] - cb.c[i]) * (s.sv[i] - cb.c[i]))) AS d2
             FROM sub s JOIN cb ON s.m = cb.m),
    codes AS (SELECT c.vec_id, c.m, c.code, e.label AS cell FROM (
                SELECT vec_id, m, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY d2, code) AS rn
                FROM dist) c JOIN e USING (vec_id) WHERE c.rn = 1),
    pd AS (SELECT label AS cell, unnest(range(1, len(v) + 1)) AS i, v FROM e),
    cd AS (SELECT cell, i, AVG(v[i]) AS m FROM pd GROUP BY cell, i),
    cent AS (SELECT cell, list(round(m, 6) ORDER BY i) AS centroid
             FROM cd GROUP BY cell),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    qc AS (SELECT query_id, cell FROM (
             SELECT q.query_id, c.cell,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY list_dot_product(qv, c.centroid) /
                               (sqrt(list_dot_product(qv, qv)) *
                                sqrt(list_dot_product(c.centroid, c.centroid)))
                               DESC, c.cell ASC) AS cr
             FROM q CROSS JOIN cent c)
           WHERE cr <= 2),
    qsub AS (SELECT vec_id AS query_id, m, sv FROM sub WHERE vec_id < 5),
    dtab AS (SELECT qs.query_id, qs.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (qs.sv[i] - cb.c[i]) * (qs.sv[i] - cb.c[i]))) AS qd
             FROM qsub qs JOIN cb ON qs.m = cb.m),
    adc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                   round(SUM(d.qd), 6) AS adc_d2
            FROM codes c
            JOIN qc ON c.cell = qc.cell
            JOIN dtab d ON d.query_id = qc.query_id
                       AND c.m = d.m AND c.code = d.code
            WHERE d.query_id <> c.vec_id
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_d2, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
      FROM adc)
    WHERE rank <= 10
    """,
)
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (functions/similarity.ivf_pq_topk) — the
    production billion-vector ANN stack: centroid multiprobe prunes to
    2 of the cells, then asymmetric distance scores only the probed
    vectors' 8-int PQ code words. Query-side artifacts (codebook,
    centroids, probe set, distance table) all broadcast; the corpus
    side touches codes, never raw vectors. Oracle composes the same
    stage oracles (codebook, codes, centroids, probe ranking, ADC)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = S.subvectors(emb.filter(F.col("vec_id") < 16), 8, 8).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    codes = S.pq_encode(emb, cb, num_subspaces=8, sub_len=8).select(
        "vec_id", "m", "code"
    ).join(emb.select("vec_id", F.col("label").alias("cell")), "vec_id")
    cents = S.cell_centroids(emb, cell_col="label").select(
        "cell", F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid")
    )
    out = S.ivf_pq_topk(
        codes, emb.filter(F.col("vec_id") < 5), cb, cents,
        num_subspaces=8, sub_len=8, n_probe=2, k=10,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_d2",
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "similarity_ivf_pq_residual_topk",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    pd AS (SELECT label AS cell, unnest(range(1, len(v) + 1)) AS i, v FROM e),
    cd AS (SELECT cell, i, AVG(v[i]) AS mu FROM pd GROUP BY cell, i),
    cent AS (SELECT cell, list(round(mu, 6) ORDER BY i) AS centroid
             FROM cd GROUP BY cell),
    r AS (SELECT e.vec_id, e.label AS cell,
                 list_transform(range(1, 65), i -> e.v[i] - ct.centroid[i]) AS rv
          FROM e JOIN cent ct ON e.label = ct.cell),
    sub AS (SELECT vec_id, cell, ms.m AS m, rv[ms.m*8+1 : ms.m*8+8] AS sv
            FROM r CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS code, sv AS c FROM sub WHERE vec_id < 16),
    dist AS (SELECT s.vec_id, s.cell, s.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (s.sv[i] - cb.c[i]) * (s.sv[i] - cb.c[i]))) AS d2
             FROM sub s JOIN cb ON s.m = cb.m),
    codes AS (SELECT vec_id, cell, m, code FROM (
                SELECT vec_id, cell, m, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY d2, code) AS rn
                FROM dist) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    qc AS (SELECT query_id, cell FROM (
             SELECT q.query_id, c.cell,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY list_dot_product(qv, c.centroid) /
                               (sqrt(list_dot_product(qv, qv)) *
                                sqrt(list_dot_product(c.centroid, c.centroid)))
                               DESC, c.cell ASC) AS cr
             FROM q CROSS JOIN cent c)
           WHERE cr <= 2),
    qres AS (SELECT qc.query_id, qc.cell,
                    list_transform(range(1, 65), i -> q.qv[i] - ct.centroid[i]) AS rqv
             FROM qc JOIN q USING (query_id) JOIN cent ct ON qc.cell = ct.cell),
    qsub AS (SELECT query_id, cell, ms.m AS m, rqv[ms.m*8+1 : ms.m*8+8] AS sv
             FROM qres CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    dtab AS (SELECT qs.query_id, qs.cell, qs.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (qs.sv[i] - cb.c[i]) * (qs.sv[i] - cb.c[i]))) AS qd
             FROM qsub qs JOIN cb ON qs.m = cb.m),
    adc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                   round(SUM(d.qd), 6) AS adc_d2
            FROM codes c
            JOIN dtab d ON d.cell = c.cell AND c.m = d.m AND c.code = d.code
            WHERE d.query_id <> c.vec_id
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_d2, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
      FROM adc)
    WHERE rank <= 10
    """,
)
def similarity_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + RESIDUAL PQ (functions/similarity.ivf_pq_residual_topk) —
    the FAISS IndexIVFPQ construction: codebook trained on and codes
    built from vec − centroid[cell], and each probed cell scores
    against that cell's own query residual. Raw-vector PQ collapses a
    tight cell to one code word per subspace (ADC degenerates to ties:
    measured recall@10 0.026 vs 0.474 residual, 1.000 with rerank —
    PERF.md r5); residual encoding is what makes the billion-vector
    stack actually retrieve. Codebook = residual subvectors of the
    first 16 ids (deterministic stand-in for pq_train's k-means — same
    plan shape); oracle composes the same stage oracles with the
    residual subtraction inlined."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.cell_centroids(emb, cell_col="label").select(
        "cell", F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid")
    )
    indexed = emb.select("vec_id", "embedding", F.col("label").alias("cell"))
    resid = S.with_residuals(indexed, cents)
    cb = S.subvectors(resid.filter(F.col("vec_id") < 16), 8, 8).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    codes = (
        S.pq_encode(resid, cb, num_subspaces=8, sub_len=8)
        .select("vec_id", "m", "code")
        .join(indexed.select("vec_id", "cell"), "vec_id")
    )
    out = S.ivf_pq_residual_topk(
        codes, emb.filter(F.col("vec_id") < 5), cb, cents,
        num_subspaces=8, sub_len=8, n_probe=2, k=10,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_d2",
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "similarity_ann_rerank",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (SELECT vec_id, ms.m AS m, v[ms.m*8+1 : ms.m*8+8] AS sv
            FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
    cb AS (SELECT m, vec_id AS code, sv AS c FROM sub WHERE vec_id < 16),
    dist AS (SELECT s.vec_id, s.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (s.sv[i] - cb.c[i]) * (s.sv[i] - cb.c[i]))) AS d2
             FROM sub s JOIN cb ON s.m = cb.m),
    codes AS (SELECT c.vec_id, c.m, c.code, e.label AS cell FROM (
                SELECT vec_id, m, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY d2, code) AS rn
                FROM dist) c JOIN e USING (vec_id) WHERE c.rn = 1),
    pd AS (SELECT label AS cell, unnest(range(1, len(v) + 1)) AS i, v FROM e),
    cd AS (SELECT cell, i, AVG(v[i]) AS m FROM pd GROUP BY cell, i),
    cent AS (SELECT cell, list(round(m, 6) ORDER BY i) AS centroid
             FROM cd GROUP BY cell),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    qc AS (SELECT query_id, cell FROM (
             SELECT q.query_id, c.cell,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY list_dot_product(qv, c.centroid) /
                               (sqrt(list_dot_product(qv, qv)) *
                                sqrt(list_dot_product(c.centroid, c.centroid)))
                               DESC, c.cell ASC) AS cr
             FROM q CROSS JOIN cent c)
           WHERE cr <= 2),
    qsub AS (SELECT vec_id AS query_id, m, sv FROM sub WHERE vec_id < 5),
    dtab AS (SELECT qs.query_id, qs.m, cb.code,
                    list_sum(list_transform(range(1, 9),
                             i -> (qs.sv[i] - cb.c[i]) * (qs.sv[i] - cb.c[i]))) AS qd
             FROM qsub qs JOIN cb ON qs.m = cb.m),
    adc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                   round(SUM(d.qd), 6) AS adc_d2
            FROM codes c
            JOIN qc ON c.cell = qc.cell
            JOIN dtab d ON d.query_id = qc.query_id
                       AND c.m = d.m AND c.code = d.code
            WHERE d.query_id <> c.vec_id
            GROUP BY 1, 2),
    cand AS (SELECT query_id, neighbor_id FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
               FROM adc) WHERE rank <= 50),
    rer AS (SELECT cand.query_id, cand.neighbor_id,
                   list_dot_product(q.qv, c2.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(c2.v, c2.v))) AS score
            FROM cand JOIN e c2 ON cand.neighbor_id = c2.vec_id
                      JOIN q ON cand.query_id = q.query_id)
    SELECT query_id, neighbor_id, round(score, 6) AS score,
           CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
      FROM rer)
    WHERE rank <= 10
    """,
)
def similarity_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-then-exact ANN (functions/similarity.rerank_topk): the
    IVF+PQ stack casts a 50-candidate wide net per query, then TRUE
    cosine over only those (query, candidate) pairs picks the final 10
    — the standard production recall fix: approximate pass touches
    compressed codes, exact arithmetic touches ≤50 full vectors per
    query instead of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = S.subvectors(emb.filter(F.col("vec_id") < 16), 8, 8).select(
        "m", F.col("id").alias("code"), F.col("sv").alias("c")
    )
    codes = S.pq_encode(emb, cb, num_subspaces=8, sub_len=8).select(
        "vec_id", "m", "code"
    ).join(emb.select("vec_id", F.col("label").alias("cell")), "vec_id")
    cents = S.cell_centroids(emb, cell_col="label").select(
        "cell", F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    cand = S.ivf_pq_topk(
        codes, queries, cb, cents, num_subspaces=8, sub_len=8, n_probe=2, k=50
    )
    out = S.rerank_topk(cand, emb, queries, k=10)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )



def _hv_sql(expr: str) -> str:
    return (
        f"(CASE WHEN ascii({expr}) >= 97 THEN ascii({expr}) - 87 "
        f"ELSE ascii({expr}) - 48 END)"
    )


def _comp_sql(p: int) -> str:
    """SQL list of the 64 hyperplane components for plane ``p`` — the
    same md5 two-hex-digit derivation as similarity.hyperplane_lsh_buckets."""
    h = f"md5('{p}:' || d)"
    return (
        f"list_transform(range(0, 64), d -> "
        f"((16 * {_hv_sql(f'substr({h}, 1, 1)')} + {_hv_sql(f'substr({h}, 2, 1)')})"
        f" / 255.0) * 2 - 1)"
    )


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN list_dot_product(v, {_comp_sql(p)}) >= 0 THEN '1' ELSE '0' END)"
    for p in range(8)
)


@register(
    "similarity_lsh_bucketed",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_dot_product(qv, c.v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
                      AS score
               FROM b c JOIN q USING (bucket) WHERE c.vec_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing + within-bucket exact cosine —
    the 100 TB ANN path (bucket equi-join instead of cross join; recall
    traded for candidate pruning). The oracle rebuilds the identical
    md5-derived hyperplanes in SQL, so bucketing AND ranking are both
    exact-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = S.hyperplane_lsh_buckets(emb, num_planes=8)
    with_cell = emb.join(buckets, emb.vec_id == buckets.id).select(
        "vec_id", "embedding", F.col("bucket").alias("cell")
    )
    queries = with_cell.filter(F.col("vec_id") < 20)
    out = S.ivf_topk(
        with_cell,
        queries,
        k=5,
        cell_col="cell",
        query_cell_col="cell",
    )
    return out.select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))


# ========================================================= text analysis


@register(
    "text_fingerprint",
    f"SELECT doc_id, {_NORM_FP} AS fp FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of lowercase whitespace-collapsed text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint("text").alias("fp"))


@register(
    "text_token_counts",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(greatest(len(string_split_regex(trim(text), '\\s+')),
                CAST(CEIL(length(regexp_replace(text, '\\s', '', 'g')) / 4.0) AS BIGINT))
                AS BIGINT) AS n_bpe
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate
    (≈ max(words, non-space chars / 4))."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_tokens"),
        T.bpe_ish_token_count("text").cast("bigint").alias("n_bpe"),
    )


@register(
    "text_language_id",
    f"""
    WITH c AS (SELECT doc_id,
                      {_SW_COUNT['en']} AS en,
                      {_SW_COUNT['es']} AS es,
                      {_SW_COUNT['de']} AS de
               FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(en, es, de) = 0 THEN 'und'
                WHEN en = greatest(en, es, de) THEN 'en'
                WHEN es = greatest(en, es, de) THEN 'es'
                ELSE 'de' END AS lang_guess
    FROM c
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic over tiny deterministic word
    lists; tie-break priority en > es > de in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.language_id("text").alias("lang_guess"))


from kafka_sink_azure_kusto_spark.plans.registry import _REGISTRY as _REG  # noqa: E402


@register(
    "corpus_language_stats",
    # Compose the ALREADY-PROVEN per-doc oracles (language id + token
    # count) by reference, so the aggregate can't drift from the row-level
    # definitions it summarizes.
    f"""
    WITH lang AS ({_REG["text_language_id"][1]}),
         tok AS (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents)
    SELECT lang.lang_guess AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok.n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(tok.n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(tok.n_tokens) AS BIGINT) AS max_tokens
    FROM lang JOIN tok USING (doc_id)
    GROUP BY lang.lang_guess
    """,
)
def corpus_language_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: per detected language, document count
    and token volume — the first dashboard any pretraining-data pipeline
    needs (what's in the pot, and how much). One hash-partitioned
    aggregate over codegen'd row expressions; no joins at scale (the
    oracle's join is only how SQL names the two derived columns)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        T.language_id("text").alias("lang"),
        T.token_count("text").cast("long").alias("n_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@register(
    "text_quality",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS q_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS q_tokens,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS q_mean_token_len,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                AS DOUBLE) / length(text) AS q_punct_ratio,
           CAST({_SW_COUNT['en']} AS DOUBLE) / len(string_split(text, ' '))
                AS q_stopword_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (length / token / punctuation / stopword
    ratios) — the standard heuristic-filter family for pretraining data."""
    docs = load_table(spark, sf_dir, "documents")
    feats = T.quality_features(docs, "text")
    return feats.select(
        "doc_id",
        "q_chars",
        "q_tokens",
        "q_mean_token_len",
        "q_punct_ratio",
        "q_stopword_ratio",
    )


@register(
    "text_rolling_fingerprint",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    w AS (SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(ws) - 7, 1) + 1),
                        i -> md5(array_to_string(ws[i:i+7], ' ')))) AS h
          FROM words)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct
    FROM w GROUP BY doc_id
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling 8-token window fingerprints; per-doc
    window count + distinct count (repeat windows ⇒ internal repetition,
    a standard quality signal)."""
    docs = load_table(spark, sf_dir, "documents")
    rolled = docs.select(
        "doc_id", T.rolling_hashes("text", k=8).alias("hs")
    )
    return rolled.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_windows"),
        F.size(F.array_distinct("hs")).cast("bigint").alias("n_distinct"),
    )


@register(
    "text_quality_score",
    f"""
    WITH f AS (SELECT doc_id,
                      len(string_split(text, ' ')) AS q_tokens,
                      CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                           AS DOUBLE) / length(text) AS q_punct_ratio,
                      CAST({_SW_COUNT['en']} AS DOUBLE) / len(string_split(text, ' '))
                           AS q_stopword_ratio
               FROM documents)
    SELECT doc_id,
           CASE WHEN q_tokens < 5 THEN 0.0
                ELSE LEAST(1.0,
                     0.4 * LEAST(1.0, q_tokens / 100.0)
                   + 0.3 * (1.0 - LEAST(1.0, q_punct_ratio * 5.0))
                   + 0.3 * LEAST(1.0, q_stopword_ratio * 10.0))
           END AS quality_score
    FROM f
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite [0,1] quality score — the filter-threshold shape used to
    gate pretraining corpora; blend is exact-reproduced in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return T.quality_score(docs, "text").select("doc_id", "quality_score")


# ====================================================== multimodal columns


# Decoded-sample value model shared by the multimodal oracles: replays
# the fixture spec (multimodal.synth_media_payload) with generate_series,
# INDEPENDENTLY of the Python encode→decode chain — the decoder must
# invert the real BMP/PPM/WAV containers exactly (stride, padding,
# bottom-up rows, BGR swap, chunk walk) for the hashes to match.
_MEDIA_VALS_CTE = """
    base AS (
      SELECT doc_id,
             doc_id % 3 AS kind,
             4 + doc_id % 13 AS w,
             3 + doc_id % 7 AS h,
             50 + doc_id % 100 AS na,
             CASE WHEN doc_id % 3 = 2 THEN 50 + doc_id % 100
                  ELSE 3 * (4 + doc_id % 13) * (3 + doc_id % 7) END AS n_tot
      FROM documents),
    idx AS (
      SELECT *, unnest(generate_series(0, n_tot - 1)) AS j FROM base),
    vals AS (
      SELECT doc_id, kind, w, h, na, n_tot, j,
             CAST(CASE
               WHEN kind = 2 THEN ((doc_id * 131 + j * 17) % 65536) - 32768
               WHEN j % 3 = 0 THEN (doc_id * 31 + (j // 3) * 7) % 256
               WHEN j % 3 = 1 THEN (doc_id * 37 + (j // 3) * 11) % 256
               ELSE (doc_id * 41 + (j // 3) * 13) % 256
             END AS BIGINT) AS v
      FROM idx)
"""


@register(
    "multimodal_decode",
    f"""
    WITH {_MEDIA_VALS_CTE}
    SELECT doc_id,
           any_value(CASE WHEN kind = 0 AND doc_id % 6 = 0 THEN 'bmp'
                          WHEN kind = 0 THEN 'png'
                          WHEN kind = 1 THEN 'ppm'
                     ELSE 'wav' END) AS media_type,
           CAST(any_value(CASE
             WHEN kind = 0 AND doc_id % 6 = 0
               THEN 54 + h * (3 * w + (4 - (3 * w) % 4) % 4)
             -- PNG stored-deflate closed form: 8 sig + 25 IHDR + 12 IEND
             -- + IDAT (12 chunk framing + 2 zlib hdr + 5/block + 4 adler
             -- + scanlines h*(1+3w)); fixtures are single-block
             WHEN kind = 0
               THEN 68 + h * (1 + 3 * w)
             WHEN kind = 1
               THEN length('P6' || chr(10) || CAST(w AS VARCHAR)
                         || ' ' || CAST(h AS VARCHAR) || chr(10) || '255'
                         || chr(10)) + 3 * w * h
             ELSE 44 + 2 * na END) AS BIGINT) AS n_bytes,
           CAST(any_value(CASE WHEN kind = 2 THEN 0 ELSE w END) AS BIGINT) AS width,
           CAST(any_value(CASE WHEN kind = 2 THEN 0 ELSE h END) AS BIGINT) AS height,
           CAST(any_value(CASE WHEN kind = 2
                THEN 8000 + (doc_id % 5) * 1000 ELSE 0 END) AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(MIN(v) AS BIGINT) AS sample_min,
           CAST(MAX(v) AS BIGINT) AS sample_max,
           CAST(SUM((j + 1) * v) AS BIGINT) AS checksum
    FROM vals
    GROUP BY doc_id
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal decode: synthesize a BMP/PPM/WAV container per
    document (deterministic from doc_id), parse it with the pure-Python
    codecs (functions/codecs.py), and emit statistics over the decoded
    pixel/sample values. The oracle recomputes the stats from the value
    model alone — it never sees the bytes — so container parsing must be
    exactly right. Narrow Arrow mapInPandas end to end; no shuffle —
    synthesis + decode run in ONE mapInPandas pass."""
    docs = load_table(spark, sf_dir, "documents")
    return M.synth_decode_media(docs)


@register(
    "multimodal_feature_extract",
    f"""
    WITH {_MEDIA_VALS_CTE},
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS f0,
             CAST(SUM(v) AS BIGINT) AS f1,
             CAST(MIN(v) AS BIGINT) AS f2,
             CAST(MAX(v) AS BIGINT) AS f3,
             CAST(SUM((j + 1) * v) AS BIGINT) AS f4,
             CAST(SUM(v * v) AS BIGINT) AS f5,
             CAST(MAX(CASE WHEN j = 0 THEN v END) AS BIGINT) AS f6,
             CAST(MAX(CASE WHEN j = n_tot - 1 THEN v END) AS BIGINT) AS f7
      FROM vals GROUP BY doc_id)
    SELECT doc_id, feat_idx, feature FROM (
      SELECT doc_id, CAST(0 AS BIGINT) AS feat_idx, f0 AS feature FROM agg
      UNION ALL SELECT doc_id, CAST(1 AS BIGINT), f1 FROM agg
      UNION ALL SELECT doc_id, CAST(2 AS BIGINT), f2 FROM agg
      UNION ALL SELECT doc_id, CAST(3 AS BIGINT), f3 FROM agg
      UNION ALL SELECT doc_id, CAST(4 AS BIGINT), f4 FROM agg
      UNION ALL SELECT doc_id, CAST(5 AS BIGINT), f5 FROM agg
      UNION ALL SELECT doc_id, CAST(6 AS BIGINT), f6 FROM agg
      UNION ALL SELECT doc_id, CAST(7 AS BIGINT), f7 FROM agg
    )
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over DECODED media content: blob → real
    BMP/PPM/WAV decode → 8 integer-exact features per document in long
    form (count/sum/min/max/order-weighted checksum/energy/first/last).
    A CLIP/CNN embedding call slots into the same Arrow batch shape.
    Long-form output keeps downstream shuffles fixed-width; fixture
    synthesis + decode fused into one mapInPandas pass."""
    docs = load_table(spark, sf_dir, "documents")
    return M.synth_feature_extract(docs)


@register(
    "multimodal_frame_sample",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) % 60 + 1 AS BIGINT) AS n_frames
      FROM documents)
    SELECT doc_id, n_frames,
           CAST(unnest(generate_series(0, n_frames - 1, 5)) AS BIGINT) AS frame_idx
    FROM m
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing: frame count from payload metadata
    (STUB: n_bytes mod 60 + 1), every-5th frame index via JVM
    sequence+explode — the cheap row-multiplying step that runs BEFORE
    any per-frame decode, so the expensive path only sees sampled
    frames."""
    docs = load_table(spark, sf_dir, "documents")
    return M.frame_sample(M.with_media_blob(docs), every_k=5)


@register(
    "multimodal_dhash_dedup",
    """
    WITH imgs AS (SELECT doc_id, doc_id % 97 AS mid FROM documents
                  WHERE (doc_id % 97) % 3 != 2),
    dims AS (SELECT doc_id, mid, 4 + mid % 13 AS w, 3 + mid % 7 AS h FROM imgs),
    cells AS (SELECT doc_id, mid, w, h, gr.g AS gr, gc.c AS gc,
                     ((gr.g * h) // 8) * w + ((gc.c * w) // 9) AS i
              FROM dims
              CROSS JOIN (SELECT unnest(range(0, 8)) AS g) gr
              CROSS JOIN (SELECT unnest(range(0, 9)) AS c) gc),
    lum AS (SELECT doc_id, gr, gc,
                   299 * ((mid * 31 + i * 7) % 256)
                 + 587 * ((mid * 37 + i * 11) % 256)
                 + 114 * ((mid * 41 + i * 13) % 256) AS l
            FROM cells),
    bits AS (SELECT a.doc_id, a.gr, a.gc,
                    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
             FROM lum a JOIN lum b
               ON a.doc_id = b.doc_id AND a.gr = b.gr AND b.gc = a.gc + 1
             WHERE a.gc < 8),
    sig AS (SELECT doc_id,
                   SUM(CASE WHEN gr * 8 + gc < 63
                            THEN bit * (CAST(1 AS BIGINT) << (gr * 8 + gc))
                            ELSE 0 END) AS dh
            FROM bits GROUP BY doc_id),
    blocks AS (SELECT doc_id, dh, bj.j AS j,
                      (dh >> (16 * bj.j)) & 65535 AS bb
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS j) bj),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
                             l.dh AS ldh, r.dh AS rdh
             FROM blocks l JOIN blocks r
               ON l.j = r.j AND l.bb = r.bb AND l.doc_id < r.doc_id)
    SELECT left_id, right_id,
           CAST(bit_count(xor(ldh, rdh)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ldh, rdh)) <= 10
    """,
)
def multimodal_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup dedup for the IMAGE modality (r7, VERDICT
    r6 #6): 64-bit dHash per image through the REAL synth→BMP/PPM
    codec decode path (`functions/multimodal.media_dhash`, Arrow
    mapInPandas, zero shuffle), then 4×16-bit block-LSH candidates and
    exact Hamming ≤ 10 via bit_count(xor) — all JVM long arithmetic
    (`dhash_neardup_pairs`). Media identity is ``doc_id % 97`` so the
    corpus genuinely contains duplicate images (~5 docs per identity)
    and the pair output is non-trivial. The oracle recomputes the
    identical hash CLOSED-FORM from the fixture pixel spec
    (generate_series luma at the 9×8 nearest-neighbor grid points) —
    the Spark side must run encode→decode→resample→gradient bit-exact
    through the real codecs to match. Extends dedup beyond text, per
    the builder's brief; the text siblings are `dedup_simhash` (same
    block-LSH shape) and `dedup_minhash_lsh`."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.media_dhash(docs, media_id=F.col("doc_id") % 97)
    return M.dhash_neardup_pairs(hashes, max_hamming=10, num_blocks=4)


@register(
    "multimodal_audio_fingerprint_dedup",
    """
    WITH auds AS (SELECT doc_id, doc_id % 97 AS mid FROM documents
                  WHERE (doc_id % 97) % 3 = 2),
    sp AS (SELECT doc_id, mid, 50 + mid % 100 AS n FROM auds),
    smp AS (SELECT doc_id, n, ii.i AS i,
                   ((mid * 131 + ii.i * 17) % 65536 - 32768) AS s
            FROM sp CROSS JOIN (SELECT unnest(range(0, 150)) AS i) ii
            WHERE ii.i < n),
    fr AS (SELECT doc_id, (i * 32) // n AS f, SUM(s * s) AS e
           FROM smp GROUP BY doc_id, (i * 32) // n),
    bits AS (SELECT a.doc_id, a.f, CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
             FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f + 1
             WHERE a.f < 31),
    sig AS (SELECT doc_id, SUM(bit * (CAST(1 AS BIGINT) << f)) AS afp
            FROM bits GROUP BY doc_id),
    blocks AS (SELECT doc_id, afp, bj.j AS j,
                      (afp >> (16 * bj.j)) & 65535 AS bb
               FROM sig CROSS JOIN (SELECT unnest(range(0, 2)) AS j) bj),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
                             l.afp AS lfp, r.afp AS rfp
             FROM blocks l JOIN blocks r
               ON l.j = r.j AND l.bb = r.bb AND l.doc_id < r.doc_id)
    SELECT left_id, right_id,
           CAST(bit_count(xor(lfp, rfp)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(lfp, rfp)) <= 4
    """,
)
def multimodal_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup dedup for the AUDIO modality (r7): 31-bit
    frame-energy delta-sign fingerprint through the REAL synth→WAV
    RIFF codec decode (`functions/multimodal.audio_fingerprint` — the
    no-FFT analog of Haitsma-Kalker band-energy bits), then 2×16-bit
    block-LSH candidates and exact Hamming ≤ 4 via bit_count(xor)
    (`audio_neardup_pairs`). Media identity ``doc_id % 97`` guarantees
    genuine duplicate clips. The oracle recomputes the fingerprint
    CLOSED-FORM from the fixture sample spec (generate_series energies
    per frame f = (i·32)//n) — a wrong chunk walk, sample width, or
    frame boundary on the Spark side breaks the hash. Completes the
    modality matrix with `multimodal_dhash_dedup` (images)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = M.media_audio_fingerprint(docs, media_id=F.col("doc_id") % 97)
    return M.audio_neardup_pairs(fps, max_hamming=4, num_blocks=2)


@register(
    "multimodal_video_dedup",
    """
    WITH vids AS (SELECT doc_id, doc_id % 97 AS mid FROM documents),
    fr AS (SELECT doc_id, mid, CAST(f.fi AS BIGINT) AS frame_idx,
                  3 * (mid * 64 + f.fi) AS fid
           FROM vids
           CROSS JOIN LATERAL (SELECT unnest(range(0, mid % 6 + 3, 2)) AS fi) f),
    dims AS (SELECT doc_id, frame_idx, fid,
                    4 + fid % 13 AS w, 3 + fid % 7 AS h FROM fr),
    cells AS (SELECT doc_id, frame_idx, fid, gr.g AS gr, gc.c AS gc,
                     ((gr.g * h) // 8) * w + ((gc.c * w) // 9) AS i
              FROM dims
              CROSS JOIN (SELECT unnest(range(0, 8)) AS g) gr
              CROSS JOIN (SELECT unnest(range(0, 9)) AS c) gc),
    lum AS (SELECT doc_id, frame_idx, gr, gc,
                   299 * ((fid * 31 + i * 7) % 256)
                 + 587 * ((fid * 37 + i * 11) % 256)
                 + 114 * ((fid * 41 + i * 13) % 256) AS l
            FROM cells),
    bits AS (SELECT a.doc_id, a.frame_idx, a.gr, a.gc,
                    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
             FROM lum a JOIN lum b
               ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx
              AND a.gr = b.gr AND b.gc = a.gc + 1
             WHERE a.gc < 8),
    sig AS (SELECT doc_id, frame_idx,
                   SUM(CASE WHEN gr * 8 + gc < 63
                            THEN bit * (CAST(1 AS BIGINT) << (gr * 8 + gc))
                            ELSE 0 END) AS dh
            FROM bits GROUP BY doc_id, frame_idx),
    blocks AS (SELECT doc_id, frame_idx, dh, bj.j AS j,
                      (dh >> (16 * bj.j)) & 65535 AS bb
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS j) bj),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
                             l.frame_idx AS frame_idx,
                             l.dh AS ldh, r.dh AS rdh
             FROM blocks l JOIN blocks r
               ON l.frame_idx = r.frame_idx AND l.j = r.j AND l.bb = r.bb
              AND l.doc_id < r.doc_id),
    matched AS (SELECT left_id, right_id,
                       COUNT(*) AS matched_frames
                FROM cand WHERE bit_count(xor(ldh, rdh)) <= 10
                GROUP BY left_id, right_id),
    sampled AS (SELECT doc_id, COUNT(*) AS n_sampled FROM fr GROUP BY doc_id)
    SELECT m.left_id, m.right_id,
           CAST(m.matched_frames AS BIGINT) AS matched_frames,
           CAST(least(sl.n_sampled, sr.n_sampled) AS BIGINT) AS min_sampled
    FROM matched m
    JOIN sampled sl ON sl.doc_id = m.left_id
    JOIN sampled sr ON sr.doc_id = m.right_id
    WHERE m.matched_frames * 2 >= least(sl.n_sampled, sr.n_sampled)
    """,
)
def multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup dedup for the VIDEO modality (r8, VERDICT r7
    #7): frame SAMPLING first (JVM sequence+explode — the decode only
    ever sees sampled frames, the non-negotiable ordering at 100 TB),
    then ONE Arrow pass dHashes each sampled frame through the real BMP
    codec (`functions/multimodal.video_frame_dhash`), aligned-frame
    16-bit block-LSH + bit_count(xor) Hamming ≤ 10 per frame, and a
    majority rule (≥ half the shorter video's sampled frames match) →
    video pairs (`video_neardup_pairs`). Video identity ``doc_id % 97``
    guarantees genuine duplicate clips (~5 docs per identity). The
    frame-hash frame is localCheckpoint'ed before the self-join so the
    per-frame decode executes exactly once (the r7 materialization
    lesson applied from the start). The oracle replays the whole chain
    closed-form from the fixture pixel spec — frame enumeration,
    per-frame dims, 9×8 grid luma, gradient bits, blocks, majority.
    Completes the image (`multimodal_dhash_dedup`) / audio
    (`multimodal_audio_fingerprint_dedup`) / video modality matrix."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.video_frame_dhash(docs, media_id=F.col("doc_id") % 97, every_k=2)
    return M.video_neardup_pairs(hashes, max_hamming=10, num_blocks=4)


def _clf_bucket_sql(expr: str) -> str:
    """Bucket 0..255 of a feature string: integer value of the first
    TWO md5 hex digits — the generated per-digit mirror of
    ``text._clf_bucket`` (conv-parse of the same two digits)."""
    digits = []
    for i in (1, 2):
        d = f"ascii(substr(md5({expr}), {i}, 1))"
        digits.append(f"(CASE WHEN {d} >= 97 THEN {d} - 87 ELSE {d} - 48 END)")
    return f"({digits[0]} * 16 + {digits[1]})"


_CLF_W = (
    f"(CAST({{b}} AS BIGINT) * {T.CLF_WEIGHT_MULT} + {T.CLF_WEIGHT_ADD}) "
    f"% {T.CLF_WEIGHT_MOD} - 1000"
)


@register(
    "text_quality_classifier",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    uni AS (SELECT doc_id, 'u:' || unnest(ws) AS f FROM toks),
    bi AS (SELECT doc_id, 'b:' || ws[g.i] || ' ' || ws[g.i + 1] AS f
           FROM toks
           CROSS JOIN LATERAL (SELECT unnest(range(1, len(ws))) AS i) g),
    feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    agg AS (SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_features,
                   CAST(SUM({_CLF_W.format(b=_clf_bucket_sql('f'))})
                        AS BIGINT) AS milliweight_sum
            FROM feats GROUP BY doc_id)
    SELECT doc_id, n_features, milliweight_sum,
           1.0 / (1.0 + exp(-(milliweight_sum / 1000.0) / n_features))
               AS clf_score,
           (1.0 / (1.0 + exp(-(milliweight_sum / 1000.0) / n_features)))
               >= 0.5 AS clf_keep
    FROM agg
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed bag-of-ngrams linear quality classifier
    (r8): unigram+bigram features hash into a 256-bucket weight table
    (bucket = first two md5 hex digits — exact in both engines), the
    document logit is the MEAN feature weight summed in exact integer
    milli-units (order-independent across partitions and engines), and
    score = sigmoid(logit). The classifier-filter complement to the
    heuristic `text_quality` family (CCNet/fastText-style filtering is
    the standard second stage after heuristics). Zero shuffles, zero
    Python: one codegen'd projection per document. Weight table here is
    a deterministic formula standing in for trained weights — a real
    deployment broadcasts the trained table; the plan shape is
    identical. `functions/text.quality_classifier`."""
    docs = load_table(spark, sf_dir, "documents")
    return T.quality_classifier(docs, "text", "doc_id")


@register(
    "multimodal_clip_align_filter",
    f"""
    WITH {_MEDIA_VALS_CTE},
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS f0,
             CAST(SUM(v) AS BIGINT) AS f1,
             CAST(MIN(v) AS BIGINT) AS f2,
             CAST(MAX(v) AS BIGINT) AS f3,
             CAST(SUM((j + 1) * v) AS BIGINT) AS f4,
             CAST(SUM(v * v) AS BIGINT) AS f5,
             CAST(MAX(CASE WHEN j = 0 THEN v END) AS BIGINT) AS f6,
             CAST(MAX(CASE WHEN j = n_tot - 1 THEN v END) AS BIGINT) AS f7
      FROM vals GROUP BY doc_id),
    lf AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS fi, f0 AS feat FROM agg
      UNION ALL SELECT doc_id, 1, f1 FROM agg
      UNION ALL SELECT doc_id, 2, f2 FROM agg
      UNION ALL SELECT doc_id, 3, f3 FROM agg
      UNION ALL SELECT doc_id, 4, f4 FROM agg
      UNION ALL SELECT doc_id, 5, f5 FROM agg
      UNION ALL SELECT doc_id, 6, f6 FROM agg
      UNION ALL SELECT doc_id, 7, f7 FROM agg),
    img AS (
      SELECT doc_id, dd.d AS d,
             SUM(feat * ((fi * 31 + dd.d * 17) % 7 - 3)) AS img_v
      FROM lf CROSS JOIN (SELECT unnest(range(0, 64)) AS d) dd
      GROUP BY doc_id, dd.d),
    imgl AS (SELECT doc_id, list(CAST(img_v AS DOUBLE) ORDER BY d) AS iv
             FROM img GROUP BY doc_id),
    sc AS (
      SELECT i.doc_id,
             list_dot_product(e.embedding::DOUBLE[], i.iv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(i.iv, i.iv))) AS s
      FROM imgl i JOIN embeddings e ON e.vec_id = i.doc_id)
    SELECT doc_id, round(s, 6) AS align_score, s >= 0.0 AS keep FROM sc
    """,
)
def multimodal_clip_align_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score-style image-text alignment filter (r8, LAION-style
    pair curation): decoded-media features (real BMP/PPM/WAV codec
    path) project into the 64-dim text-embedding space via a fixed
    integer matrix (the trained vision projection's stand-in —
    ``multimodal._clip_proj``), each document scores
    cosine(text_embedding, image_embedding), and sub-threshold pairs
    are flagged for drop. Image vector + its norm² assemble in EXACT
    integer arithmetic; the only doubles are the final ordered-fold dot
    product and normalize (list_dot_product mirrors zip_with's array
    order, so float summation order can't drift between engines). The
    oracle replays the whole chain — pixel spec → features → projection
    → cosine — closed-form. `multimodal.clip_align_scores`."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return M.clip_align_scores(
        M.synth_feature_extract(docs), emb, dim=64, threshold=0.0
    )


@register(
    "multimodal_video_dedup_capped",
    """
    WITH vids AS (SELECT doc_id, doc_id % 97 AS mid FROM documents),
    fr AS (SELECT doc_id, mid, CAST(f.fi AS BIGINT) AS frame_idx,
                  3 * (mid * 64 + f.fi) AS fid
           FROM vids
           CROSS JOIN LATERAL (SELECT unnest(range(0, mid % 6 + 3, 2)) AS fi) f),
    dims AS (SELECT doc_id, frame_idx, fid,
                    4 + fid % 13 AS w, 3 + fid % 7 AS h FROM fr),
    cells AS (SELECT doc_id, frame_idx, fid, gr.g AS gr, gc.c AS gc,
                     ((gr.g * h) // 8) * w + ((gc.c * w) // 9) AS i
              FROM dims
              CROSS JOIN (SELECT unnest(range(0, 8)) AS g) gr
              CROSS JOIN (SELECT unnest(range(0, 9)) AS c) gc),
    lum AS (SELECT doc_id, frame_idx, gr, gc,
                   299 * ((fid * 31 + i * 7) % 256)
                 + 587 * ((fid * 37 + i * 11) % 256)
                 + 114 * ((fid * 41 + i * 13) % 256) AS l
            FROM cells),
    bits AS (SELECT a.doc_id, a.frame_idx, a.gr, a.gc,
                    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
             FROM lum a JOIN lum b
               ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx
              AND a.gr = b.gr AND b.gc = a.gc + 1
             WHERE a.gc < 8),
    sig AS (SELECT doc_id, frame_idx,
                   SUM(CASE WHEN gr * 8 + gc < 63
                            THEN bit * (CAST(1 AS BIGINT) << (gr * 8 + gc))
                            ELSE 0 END) AS dh
            FROM bits GROUP BY doc_id, frame_idx),
    blocks AS (SELECT doc_id, frame_idx, dh, bj.j AS j,
                      (dh >> (16 * bj.j)) & 65535 AS bb
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS j) bj),
    capped AS (SELECT * FROM (
               SELECT *, COUNT(*) OVER (PARTITION BY frame_idx, j, bb) AS bn
               FROM blocks) WHERE bn <= 16),
    cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
                             l.frame_idx AS frame_idx,
                             l.dh AS ldh, r.dh AS rdh
             FROM capped l JOIN capped r
               ON l.frame_idx = r.frame_idx AND l.j = r.j AND l.bb = r.bb
              AND l.doc_id < r.doc_id),
    matched AS (SELECT left_id, right_id,
                       COUNT(*) AS matched_frames
                FROM cand WHERE bit_count(xor(ldh, rdh)) <= 10
                GROUP BY left_id, right_id),
    sampled AS (SELECT doc_id, COUNT(*) AS n_sampled FROM fr GROUP BY doc_id)
    SELECT m.left_id, m.right_id,
           CAST(m.matched_frames AS BIGINT) AS matched_frames,
           CAST(least(sl.n_sampled, sr.n_sampled) AS BIGINT) AS min_sampled
    FROM matched m
    JOIN sampled sl ON sl.doc_id = m.left_id
    JOIN sampled sr ON sr.doc_id = m.right_id
    WHERE m.matched_frames * 2 >= least(sl.n_sampled, sr.n_sampled)
    """,
)
def multimodal_video_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH of `multimodal_video_dedup` (r8): degenerate
    16-bit blocks (smooth gradients collapse whole blocks to
    0x0000/0xFFFF across unrelated videos) turn the aligned-block join
    quadratic — measured 280M candidate pairs / 10× exponent 1.58 at
    50k synth videos; with the cap the exponent returns to ~linear
    (PERF.md r8). (frame_idx, j, bb) buckets above the cap are dropped
    from candidate generation, the same guard as the image-dHash /
    minhash / history-store caps; the oracle mirrors the window-count
    filter literally, so the cap's exact semantics — not just its
    speed — are gated."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = M.video_frame_dhash(docs, media_id=F.col("doc_id") % 97, every_k=2)
    return M.video_neardup_pairs(
        hashes, max_hamming=10, num_blocks=4, block_member_cap=16
    )


@register(
    "similarity_index_lifecycle",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                      list_dot_product(qv, c.v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
                      AS score
               FROM e c JOIN q ON c.label = qlabel WHERE c.vec_id <> query_id)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(score, 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def similarity_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX lifecycle for ANN (r8) — the similarity-side
    sibling of `dedup_store_compaction_lifecycle`: the IVF index is
    built as a CELL-PARTITIONED parquet layout (initial write = vectors
    with vec_id % 3 != 2), a later ingest appends the remaining delta
    into the same layout, and the probe reads the index OFF DISK — the
    broadcast-hash join on the partition column lets Spark prune index
    partitions at runtime (cell = the coarse-quantizer id; at 100 TB a
    probe touches n_probe cells of parquet, never the corpus — the
    claim `similarity_topk_ivf` documents, here actually exercised
    through the storage layout). The oracle is deliberately the SAME
    whole-corpus SQL as `similarity_topk_ivf`: build → append → probe
    must be RESULT-INVARIANT (a vector lost or duplicated by the
    append, a cell mis-partitioned, or a float mangled by the parquet
    round-trip breaks the value hash)."""
    emb = load_table(spark, sf_dir, "embeddings")
    work = _workdir("ivf_index_")
    idx_dir = os.path.join(work, "ivf_index")
    base = emb.filter(F.col("vec_id") % 3 != 2).withColumnRenamed(
        "label", "cell"
    )
    base.write.partitionBy("cell").parquet(idx_dir)
    delta = emb.filter(F.col("vec_id") % 3 == 2).withColumnRenamed(
        "label", "cell"
    )
    delta.write.mode("append").partitionBy("cell").parquet(idx_dir)
    index = spark.read.parquet(idx_dir)
    out = S.ivf_topk(
        index,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        cell_col="cell",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )


@register(
    "multimodal_resize",
    """
    WITH imgs AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
                  FROM documents WHERE doc_id % 3 != 2),
    out_idx AS (SELECT doc_id, w, h, unnest(range(0, 144)) AS j FROM imgs),
    src AS (SELECT doc_id, w, h, j, j % 3 AS ch,
                   (((j // 3) // 8) * h // 6) * w + (((j // 3) % 8) * w // 8) AS i
            FROM out_idx),
    vals AS (SELECT doc_id, j,
                    CASE ch WHEN 0 THEN (doc_id * 31 + i * 7) % 256
                            WHEN 1 THEN (doc_id * 37 + i * 11) % 256
                            ELSE (doc_id * 41 + i * 13) % 256 END AS v
             FROM src)
    SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(6 AS BIGINT) AS out_h,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(SUM((j + 1) * v) AS BIGINT) AS checksum
    FROM vals GROUP BY doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize to 8×6 through the real
    BMP/PPM codec path: WAV rows filter out JVM-side before the Arrow
    pass, one fused mapInPandas decodes + gathers (integer index math,
    no float kernels), and the gate hashes integer stats over the
    RESIZED raster with a position-weighted checksum — a transposed,
    flipped, or off-by-one gather breaks the value hash. The oracle
    replays decode + resize closed-form from the pixel spec.
    `multimodal.resize_nearest` / `synth_resize_stats`."""
    docs = load_table(spark, sf_dir, "documents")
    return M.synth_resize_stats(docs, target_w=8, target_h=6)


@register(
    "multimodal_audio_resample",
    """
    WITH wavs AS (SELECT doc_id,
                         50 + doc_id % 100 AS n_in,
                         8000 + (doc_id % 5) * 1000 AS rate_in
                  FROM documents WHERE doc_id % 3 = 2),
    dims AS (SELECT doc_id, n_in, rate_in,
                    (n_in * 4000) // rate_in AS n_out FROM wavs),
    idx AS (SELECT doc_id, n_in, rate_in, n_out,
                   unnest(range(0, n_out)) AS j FROM dims),
    vals AS (SELECT doc_id, rate_in, n_out, j,
                    ((doc_id * 131 + ((j * n_in) // n_out) * 17) % 65536)
                        - 32768 AS v
             FROM idx)
    SELECT doc_id,
           CAST(any_value(rate_in) AS BIGINT) AS rate_in,
           CAST(4000 AS BIGINT) AS rate_out,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(SUM((j + 1) * v) AS BIGINT) AS checksum
    FROM vals GROUP BY doc_id
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio rate conversion to 4 kHz through the real WAV codec path
    (r8 — the audio sibling of `multimodal_resize`): image rows filter
    JVM-side before the Arrow pass, one fused mapInPandas decodes +
    nearest-gathers (n_out = n·4000 // rate_in, all-integer index
    map), and the gate hashes integer stats over the RESAMPLED signal
    with a position-weighted checksum. The oracle replays decode +
    resample closed-form from the sample spec. A production pipeline
    swaps the gather for a windowed-sinc kernel in the same batch
    shape. `multimodal.resample_nearest`."""
    docs = load_table(spark, sf_dir, "documents")
    return M.synth_audio_resample_stats(docs, target_rate=4000)
