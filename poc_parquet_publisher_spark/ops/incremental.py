"""Incremental cross-batch deduplication: the continuous-ingestion leg.

A crawl/ingest pipeline receives drops daily; dedup must hold ACROSS
drops without re-scanning the accumulated corpus. The standard shape is
a persistent hash index (one narrow parquet table of text hashes):

1. dedup the new batch internally (one hash-groupBy, min-id survivor);
2. anti-join its hashes against the index -- a hash-partitioned join
   against a hash-only table, NOT against the corpus text;
3. append the surviving hashes to the index.

The index is ~16 bytes/doc -- at 10B docs it is ~300 GB of parquet, a
broadcast-infeasible but comfortably joinable table, and the anti-join
shuffles only (hash, id), never document text. Streaming analog:
``streaming/dedup.py`` (dropDuplicatesWithinWatermark) for in-flight
windows; this module is the batch/backfill path with unbounded lookback.

Append-mode durability: each batch writes its new hashes as its own
parquet files (no rewrite of the index); a crashed run re-appends the
same hashes on retry, which is harmless -- the anti-join semantics are
idempotent under duplicate index rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _index_exists(spark: SparkSession, index_path: str) -> bool:
    from ..pipeline.layout import _fs_for

    fs, jpath = _fs_for(spark, index_path)
    return bool(fs.exists(jpath))


def incremental_dedup(
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    update_index: bool = True,
) -> DataFrame:
    """Rows of ``batch`` not seen in any prior batch (by normalized text
    hash), deduped within the batch first (min id survives). With
    ``update_index`` the survivors' hashes are appended to the index, so
    the next call sees them.

    Returns the surviving rows with their ``__h`` hash column dropped.
    """
    spark = batch.sparkSession
    h = F.md5(F.lower(F.col(text_col))).alias("__h")
    hashed = batch.withColumn("__h", h)
    # within-batch: min id per hash survives (same rule as exact_dedup)
    keep = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    fresh = hashed.join(keep, ["__h", id_col], "left_semi")
    if _index_exists(spark, index_path):
        seen = spark.read.parquet(index_path)
        fresh = fresh.join(seen, fresh["__h"] == seen["h"], "left_anti")
    if update_index:
        # materialize before the append: the survivors' plan reads the
        # index, and appending to a parquet path while a plan reading
        # it is still lazy is a correctness hazard
        fresh = fresh.localCheckpoint()
        fresh.select(F.col("__h").alias("h")).write.mode("append").parquet(
            index_path
        )
    return fresh.drop("__h")


def neardup_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document near-dup index row: deterministic MinHash band keys
    (4 strings, ``ops/dedup.py det_band_keys`` -- the SAME math as x40's
    ``minhash_banded_pairs``, so batch and index hash identically) plus
    the document's hashed shingle set (16-hex md5 per distinct k-token
    shingle) for the exact-Jaccard verify step.

    Output: (doc, shh: array<string>, bands: array<string>). Docs
    shorter than ``k`` tokens carry no signature (no row) -- near-dup
    semantics need at least one shingle; pair with ``incremental_dedup``
    for exact-hash coverage of short docs.

    Scale shape: one narrow fold per document (no explode, no Python).
    The index row is ~16 bytes per DISTINCT shingle + 64 bytes of band
    keys -- a fraction of the raw text (shingles overlap 3x in the
    text but are stored distinct and hashed), and Jaccard over the
    16-hex hashes equals Jaccard over the shingles themselves short of
    an md5 collision, identically in both engines.
    """
    from .dedup import det_band_keys, shingle_arrays

    arrs = shingle_arrays(df, id_col, text_col, k)
    sh = F.col("sh")
    shh = F.transform(sh, lambda s: F.substring(F.md5(s), 1, 16))
    return arrs.select(
        "doc", shh.alias("shh"), det_band_keys(sh).alias("bands")
    )


def neardup_matches(
    probe: DataFrame,
    index: DataFrame,
    threshold: float = 0.7,
    max_docs_per_band: int | None = 1000,
) -> DataFrame:
    """Verified near-dup matches of ``probe`` docs against ``index``
    docs (both in ``neardup_signatures`` layout): band equi-join
    proposes candidates, exact Jaccard over the hashed shingle sets
    verifies them. Output: (new_id, old_id, jaccard) with jaccard
    rounded to 4 decimals and >= threshold. Self-probe (probe is the
    index) yields both (a,b) and (b,a); the caller keeps old < new.

    ``max_docs_per_band`` caps degenerate INDEX buckets (the side that
    accumulates over batches and can grow a stop-shingle band without
    bound); a pair suppressed by a hot band still surfaces through any
    non-hot shared band.

    Scale shape: the only corpus-sized shuffle is the (band_id,
    band_key) equi-join; candidates are band-blocked (never all-pairs),
    and the verify is two candidate-sized equi-joins back to the
    signature tables plus an array intersect per pair -- no explode of
    postings, no text movement.
    """
    pb = probe.select(
        F.col("doc").alias("new_id"),
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    ib = index.select(
        F.col("doc").alias("old_id"),
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    if max_docs_per_band is not None:
        hot = (
            ib.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_docs_per_band)
            .drop("__n")
        )
        ib = ib.join(hot, ["band_id", "band_key"], "left_anti")
    cand = (
        pb.join(ib, ["band_id", "band_key"])
        .select("new_id", "old_id")
        .distinct()
    )
    a = probe.select(F.col("doc").alias("new_id"), F.col("shh").alias("shh_n"))
    b = index.select(F.col("doc").alias("old_id"), F.col("shh").alias("shh_o"))
    joined = cand.join(a, "new_id").join(b, "old_id")
    inter = F.size(F.array_intersect("shh_n", "shh_o"))
    union = F.size("shh_n") + F.size("shh_o") - inter
    jac = F.round(inter.cast("double") / union, 4)
    return joined.select(
        "new_id", "old_id", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def incremental_neardup_dedup(
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    max_docs_per_band: int | None = 1000,
    update_index: bool = True,
) -> DataFrame:
    """Cross-batch NEAR-duplicate dedup: rows of ``batch`` that are not
    a near-duplicate (k-shingle Jaccard >= threshold) of any PRIOR
    batch's survivor nor of a smaller-id doc in this batch. The
    persistent index stores each survivor's deterministic MinHash band
    keys + hashed shingle set (``neardup_signatures``) -- a daily drop
    that paraphrases yesterday's corpus is caught WITHOUT re-scanning
    any prior text, the capability the exact-hash ``incremental_dedup``
    cannot provide (reference analog: the continuous SQS ingestion loop,
    /root/reference/cmd/parquetgo-record-processor/handler.go:73-76).

    Within-batch rule: a doc is dropped when it verifies against ANY
    smaller-id batch doc (pairwise-minimal survivors -- the cluster's
    global minimum always survives; the same keep-one approximation as
    x244's cascade). Docs shorter than ``k`` tokens have no shingles,
    always survive, and are not indexed (see ``neardup_signatures``).

    Idempotent re-runs: a re-ingested batch re-matches its own indexed
    survivors at jaccard 1.0 and drops entirely. Index appends are
    per-batch parquet files (no rewrite); duplicate index rows from a
    crashed retry only add redundant candidates, never change answers.

    Returns the surviving rows of ``batch``.
    """
    spark = batch.sparkSession
    sigs = neardup_signatures(batch, id_col, text_col, k).localCheckpoint()
    within = (
        neardup_matches(sigs, sigs, threshold, max_docs_per_band)
        .filter(F.col("old_id") < F.col("new_id"))
        .select("new_id")
    )
    drops = within
    if _index_exists(spark, index_path):
        idx = spark.read.parquet(index_path)
        drops = drops.union(
            neardup_matches(sigs, idx, threshold, max_docs_per_band)
            .select("new_id")
        )
    # drop ids are candidate-bounded (small); materialize so neither the
    # survivor plan nor the index append still reads the index lazily
    # while we append to it
    drops = drops.distinct().localCheckpoint()
    survivors = batch.join(
        drops, batch[id_col] == drops["new_id"], "left_anti"
    )
    if update_index:
        surv_sigs = sigs.join(
            drops, sigs["doc"] == drops["new_id"], "left_anti"
        )
        surv_sigs.write.mode("append").parquet(index_path)
    return survivors


def _compact_index(
    spark: SparkSession,
    index_path: str,
    dedup_cols: list[str],
    keep: "F.Column | None" = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Shared index-compaction transform: drop duplicate rows
    (crashed-retry re-appends are byte-identical by determinism, so this
    cannot change probe answers), optionally keep only rows matching
    ``keep``; pipeline/layout.py ``_rewrite_tree`` lists, sizes and
    swaps the rewrite in."""
    from ..pipeline.layout import _rewrite_tree

    def dedup(idx: DataFrame) -> DataFrame:
        idx = idx.dropDuplicates(dedup_cols)
        if keep is not None:
            idx = idx.filter(keep)
        # pin before the swap: the plan reads the very path being rewritten
        return idx.localCheckpoint()

    return _rewrite_tree(spark, index_path, target_file_bytes, dedup)


def compact_neardup_index(
    spark: SparkSession,
    index_path: str,
    expire_before: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact the near-dup signature index: ``incremental_neardup_dedup``
    appends one parquet generation per batch forever, so at daily-batch
    cadence the index becomes a small-files problem and every probe
    re-reads all generations. This rewrites N generations into
    ~``target_file_bytes`` files, dropping exact-duplicate rows (from
    crashed-retry re-appends) -- probe results are EXACTLY preserved:
    the surviving row set keyed by ``doc`` is unchanged, and duplicate
    rows only ever added redundant candidates.

    ``expire_before`` optionally drops signatures with ``doc`` below the
    horizon (ingest doc ids are monotone, so this is a time-retention
    analog). Expiry is a deliberate semantics trade, not an equivalence:
    a future batch near-duplicating an EXPIRED doc will no longer be
    caught -- size the horizon to the staleness your corpus tolerates.

    Idempotent: re-running changes nothing (same rows, same file count).
    Returns {files_before, files_after, bytes, rows}.
    """
    keep = None if expire_before is None else F.col("doc") >= expire_before
    return _compact_index(
        spark, index_path, ["doc"], keep, target_file_bytes
    )


def compact_hash_index(
    spark: SparkSession,
    index_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact the exact-dedup hash index (``incremental_dedup``'s
    ``h``-only table): distinct-on-hash rewrite into ~target-sized
    files. Anti-join semantics are idempotent under duplicate rows, so
    dropping them preserves every future probe exactly."""
    return _compact_index(spark, index_path, ["h"], None, target_file_bytes)


def incremental_neardup_oracle_sql(
    source: str = "documents",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_docs_per_band: int = 1000,
) -> str:
    """DuckDB SQL replaying the full two-batch incremental near-dup
    flow (x295): batch 1 (``doc_id % 5 < 3``) self-dedups, its
    survivors become the index; batch 2 probes the index AND itself.
    Same md5 slices / bands / hashed-shingle Jaccard as the Spark side
    (k fixed at 3), hot-band cap mirrored on each probe's INDEX side.
    """
    thr = threshold
    cap = max_docs_per_band
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{salt}:' || s), "
        f"{off}, 8))) AS s{4 * salt + i}"
        for salt in (0, 1)
        for i, off in enumerate((1, 9, 17, 25))
    )

    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc, {b} AS band_id, s{2 * b} || s{2 * b + 1} "
            f"AS band_key FROM {src}"
            for b in range(4)
        )

    jac = (
        "ROUND(CAST(len(list_intersect(pn.shh, po.shh)) AS DOUBLE) / "
        "(len(pn.shh) + len(po.shh) "
        "- len(list_intersect(pn.shh, po.shh))), 4)"
    )
    return f"""
WITH t1 AS MATERIALIZED (
  SELECT {id_col} AS doc,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+2], ' ')
         )) AS sh
  FROM {source}
  WHERE {id_col} % 5 < 3
    AND len(string_split(lower(text), ' ')) >= 3
), t2 AS MATERIALIZED (
  SELECT {id_col} AS doc,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+2], ' ')
         )) AS sh
  FROM {source}
  WHERE {id_col} % 5 >= 3
    AND len(string_split(lower(text), ' ')) >= 3
), g1 AS MATERIALIZED (
  SELECT doc, list_transform(sh, s -> substr(md5(s), 1, 16)) AS shh,
         {sig_cols}
  FROM t1
), g2 AS MATERIALIZED (
  SELECT doc, list_transform(sh, s -> substr(md5(s), 1, 16)) AS shh,
         {sig_cols}
  FROM t2
), b1 AS MATERIALIZED ({band_rows('g1')}),
b2 AS MATERIALIZED ({band_rows('g2')}),
hot1 AS (
  SELECT band_id, band_key FROM b1
  GROUP BY 1, 2 HAVING count(*) > {cap}
), b1f AS (
  SELECT b.* FROM b1 b LEFT JOIN hot1 h USING (band_id, band_key)
  WHERE h.band_id IS NULL
), cand1 AS (
  SELECT DISTINCT p.doc AS new_id, i.doc AS old_id
  FROM b1 p JOIN b1f i USING (band_id, band_key)
  WHERE i.doc < p.doc
), drop1 AS (
  SELECT DISTINCT c.new_id FROM cand1 c
  JOIN g1 pn ON pn.doc = c.new_id
  JOIN g1 po ON po.doc = c.old_id
  WHERE {jac} >= {thr}
), surv1 AS MATERIALIZED (
  SELECT * FROM g1 WHERE doc NOT IN (SELECT new_id FROM drop1)
), ib AS MATERIALIZED ({band_rows('surv1')}),
hot2 AS (
  SELECT band_id, band_key FROM b2
  GROUP BY 1, 2 HAVING count(*) > {cap}
), b2f AS (
  SELECT b.* FROM b2 b LEFT JOIN hot2 h USING (band_id, band_key)
  WHERE h.band_id IS NULL
), cand2w AS (
  SELECT DISTINCT p.doc AS new_id, i.doc AS old_id
  FROM b2 p JOIN b2f i USING (band_id, band_key)
  WHERE i.doc < p.doc
), drop2w AS (
  SELECT DISTINCT c.new_id FROM cand2w c
  JOIN g2 pn ON pn.doc = c.new_id
  JOIN g2 po ON po.doc = c.old_id
  WHERE {jac} >= {thr}
), hoti AS (
  SELECT band_id, band_key FROM ib
  GROUP BY 1, 2 HAVING count(*) > {cap}
), ibf AS (
  SELECT b.* FROM ib b LEFT JOIN hoti h USING (band_id, band_key)
  WHERE h.band_id IS NULL
), cand2x AS (
  SELECT DISTINCT p.doc AS new_id, i.doc AS old_id
  FROM b2 p JOIN ibf i USING (band_id, band_key)
), drop2x AS (
  SELECT DISTINCT c.new_id FROM cand2x c
  JOIN g2 pn ON pn.doc = c.new_id
  JOIN surv1 po ON po.doc = c.old_id
  WHERE {jac} >= {thr}
)
SELECT d.{id_col},
       CASE WHEN d.{id_col} IN (SELECT new_id FROM drop2x)
              THEN 'neardup_prior'
            WHEN d.{id_col} IN (SELECT new_id FROM drop2w)
              THEN 'neardup_batch'
            ELSE 'fresh' END AS status
FROM {source} d
WHERE d.{id_col} % 5 >= 3
ORDER BY d.{id_col}
"""


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus snapshot diff: classify every document id across two
    dataset versions as added / removed / changed / unchanged by
    content hash -- the audit step of dataset versioning (what changed
    between crawl N and crawl N+1, what incremental_dedup must
    reprocess, what a training run's data card should report).

    Output: (id, status), one row per id present in either snapshot.

    Scale shape: each side reduces to a narrow (id, md5) projection at
    scan time, then ONE full-outer equi-join on the id -- shuffle on
    the join key only, content never moves twice. At 100 TB both sides
    prune to two columns (ReadSchema) and the join is sort-merge on
    id; no collect, no window.
    """
    oh = old.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("old_h")
    )
    nh = new.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("new_h")
    )
    joined = oh.join(nh, "id", "full_outer")
    status = (
        F.when(F.col("old_h").isNull(), F.lit("added"))
        .when(F.col("new_h").isNull(), F.lit("removed"))
        .when(F.col("old_h") == F.col("new_h"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("id").alias(id_col), status.alias("status")
    )
