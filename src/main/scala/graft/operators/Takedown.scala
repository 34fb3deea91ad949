package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.sinks.Bucketing

/** Takedown propagation over the persisted key stores — the
  * right-to-be-forgotten pass a production corpus cannot skip: content
  * gets retracted after it shipped (DMCA notices, robots revisions,
  * privacy requests), and the retraction must reach not just the corpus
  * files but every derived STORE that remembers the content — otherwise
  * the fingerprint store keeps rejecting a legitimately re-licensed
  * document forever, and a knn store keeps serving the vector of text
  * the pipeline promised to forget.
  *
  * Design: MERGE-ON-READ tombstones + amortized physical purge — the
  * lakehouse position-delete pattern (Delta/Iceberg delete files)
  * expressed over the library's own bucketed-store layout:
  *
  *  - [[retract]] appends the keys to a TOMBSTONE side-table
  *    (`<table>__tombstones`), bucketed by the same columns into the
  *    same bucket count as the store. Cost is O(takedown), immediate
  *    effect, no store rewrite. Idempotent: re-retracting the same keys
  *    appends nothing (the store-commit anti-join discipline).
  *  - [[live]] is the store minus its tombstones — a CO-BUCKETED
  *    left-anti join, so the probe plan stays exchange-free on BOTH
  *    sides (the whole point of the bucketed layout, preserved through
  *    deletion; spec-pinned). Probe paths pass `live(...)` wherever
  *    they passed `spark.table(...)`.
  *  - [[purge]] makes the deletion physical: one staged rewrite of the
  *    live view ([[Bucketing.overwriteBucketedStaged]] — crash-safe,
  *    all-or-nothing), then the tombstone table drops. Amortize it like
  *    compaction: tombstones cost one anti-join per probe, so purge on
  *    the same cadence as [[Bucketing.compactBucketed]]. A crash
  *    between the rewrite and the tombstone drop leaves stale
  *    tombstones over an already-purged store — harmless ([[live]]
  *    anti-joins keys that no longer exist) and converged by re-running
  *    [[purge]].
  *
  * Key semantics: retraction is by the store's BUCKET columns — the
  * fingerprint store's `fp`, the signature store's `(band, sig)`, the
  * knn/margin stores' id column. Deleting a knn node removes its row;
  * edges in OTHER nodes' lists that point at it are references the
  * anti-join cannot see — consumers that materialized a graph from the
  * store rebuild/regeom it on their own cadence (the store is the
  * source of truth, the graph a derived artifact).
  *
  * Fingerprint stores need one more rule, and [[retractFingerprints]]
  * encodes it: the store keys CONTENT, not documents, so a taken-down
  * document's fingerprint must stay in the store while any SURVIVING
  * document carries the same text — dropping it would re-admit a
  * duplicate of text the corpus still has. The still-claimed screen is
  * one pass over the surviving corpus against the broadcast-sized
  * candidate set; q217 pins the whole cycle cross-engine.
  *
  * Store-key map: fingerprint store → `fp` ([[retractFingerprints]]),
  * signature store → `(band, sig)` ([[retractSignatures]]), k-NN /
  * margin stores → the id column ([[retractFromKnnStore]] adds the
  * reverse-neighbor scrub); any other bucketed store retracts by its
  * own bucket columns through the generic [[retract]].
  *
  * STREAMING freshness caveat: a streaming gate that seeded its state
  * or plans its static join side from [[live]] sees the tombstones AS
  * OF QUERY START — Structured Streaming does not re-plan a static
  * side per microbatch, and already-absorbed state is not retroactively
  * scrubbed. A retraction therefore reaches continuous ingest on the
  * next query (re)start, or immediately via a `foreachBatch` sink that
  * calls [[live]] per batch. Said here so the composition is a known
  * property, not a surprise.
  *
  * At 100 TB: [[retract]] writes takedown-sized tombstone files;
  * [[live]] adds an exchange-free anti-join to probes; [[purge]] is the
  * one store-sized rewrite, scheduled, staged, and crash-safe. Nothing
  * here scales with corpus text.
  */
object Takedown {

  def tombstoneTable(table: String): String = table + "__tombstones"

  /** Logical retraction: append `keys` (columns must be exactly the
    * store's bucket columns, in order) to the tombstone side-table,
    * created co-bucketed with the store on first use. O(takedown);
    * idempotent under re-delivery of the same keys. */
  def retract(spark: SparkSession, table: String, keys: DataFrame): Unit = {
    val spec = Bucketing.spec(spark, table)
    val bucketCols = spec.bucketColumnNames
    require(keys.columns.toSeq == bucketCols,
      s"Takedown.retract: keys columns ${keys.columns.mkString("(", ", ", ")")} " +
        s"must be exactly '$table''s bucket columns " +
        s"${bucketCols.mkString("(", ", ", ")")}")
    val tomb = tombstoneTable(table)
    val distinctKeys = keys.distinct()
    if (!spark.catalog.tableExists(tomb))
      Bucketing.writeBucketed(distinctKeys, tomb, bucketCols, spec.numBuckets)
    else
      Bucketing.append(
        distinctKeys.join(spark.table(tomb), bucketCols, "left_anti"), tomb)
  }

  /** The store's LIVE view: rows minus tombstoned keys. With tombstones
    * present this is a co-bucketed left-anti join — zero exchanges on
    * either side (spec-pinned); with none it is the table itself. Pass
    * this wherever a probe passed `spark.table(table)`. */
  def live(spark: SparkSession, table: String): DataFrame = {
    val spec = Bucketing.spec(spark, table)
    val tomb = tombstoneTable(table)
    if (!spark.catalog.tableExists(tomb)) spark.table(table)
    else spark.table(table)
      .join(spark.table(tomb), spec.bucketColumnNames, "left_anti")
  }

  /** Physical purge: rewrite the store to its live view (staged +
    * swapped — [[Bucketing.overwriteBucketedStaged]]'s crash contract),
    * then drop the tombstone table. No-op without tombstones. Schedule
    * with compaction; see the object doc for the crash window. */
  def purge(spark: SparkSession, table: String): Unit = {
    val spec = Bucketing.spec(spark, table)
    val tomb = tombstoneTable(table)
    if (!spark.catalog.tableExists(tomb)) return
    val sortCols =
      if (spec.sortColumnNames.nonEmpty) spec.sortColumnNames
      else spec.bucketColumnNames
    Bucketing.overwriteBucketedStaged(live(spark, table), table,
      spec.bucketColumnNames, spec.numBuckets, sortCols)
    spark.sql(s"DROP TABLE IF EXISTS `$tomb`")
  }

  /** Signature-store takedown — [[retractFingerprints]]'s rule in the
    * near-dup key space, where the claim screen matters MORE: band
    * signatures are shared by every document with a similar shingle
    * profile (boilerplate especially), so dropping a taken-down
    * document's signatures wholesale would re-open near-dup admission
    * for shapes the surviving corpus still carries. Candidates = the
    * takedown's distinct (band, sig) keys; surviving signatures screen
    * them through one narrow pass (broadcast-sized candidate set,
    * distinct taken AFTER the semi-join so it is candidate-sized, never
    * corpus-sized); the unclaimed remainder tombstones via [[retract]].
    * `shingle`/`bands` must match the store's build parameters. */
  def retractSignatures(spark: SparkSession, table: String,
                        takedown: DataFrame, textCol: String,
                        surviving: DataFrame, survivingTextCol: String,
                        shingle: Int = 5, bands: Int = 4): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val candidates =
      Dedup.signatureStore(takedown, textCol, shingle, bands)
    val survivingSigs = surviving
      .select(Text.tokens(col(survivingTextCol)).as("__tk"))
      .select(posexplode(
        Text.minhashBandsNative(col("__tk"), shingle, bands)))
      .select(col("pos").as("band"), col("col").as("sig"))
      .filter(col("sig").isNotNull)
    val claimed = survivingSigs
      .join(broadcast(candidates), Seq("band", "sig"), "left_semi")
      .distinct()
    retract(spark, table,
      candidates.join(claimed, Seq("band", "sig"), "left_anti"))
  }

  /** k-NN-store takedown: tombstones the ids in BOTH halves of the
    * store — the vectors table (keyed by the id column) and the edges
    * table (keyed `q_id`, killing the node's own neighbor list). What
    * tombstones CANNOT express is the third place a forgotten node
    * lives: as a NEIGHBOR inside other nodes' edge rows — those are
    * scattered across arbitrary `q_id` buckets; [[liveKnnEdges]] scrubs
    * them at read time (one more anti-join against the vector
    * tombstones on the neighbor column) and [[purgeKnnStore]] scrubs
    * them physically.
    *
    * Honesty contract (the FAISS `remove_ids` stance): retraction
    * removes the forgotten nodes EXACTLY; it does not backfill
    * replacement neighbors, so survivors that pointed at a removed node
    * keep < k edges until the store is rebuilt or re-appended — the
    * exact-k restore is a recompute, not a delete. */
  def retractFromKnnStore(spark: SparkSession, table: String,
                          ids: DataFrame): Unit = {
    val vt = Similarity.knnVectorsTable(table)
    val et = Similarity.knnEdgesTable(table)
    val idCol = Bucketing.spec(spark, vt).bucketColumnNames.head
    require(ids.columns.length == 1,
      s"Takedown.retractFromKnnStore: ids must be a single-column frame " +
        s"(got ${ids.columns.mkString(", ")})")
    retract(spark, vt, ids.toDF(idCol))
    retract(spark, et, ids.toDF("q_id"))
  }

  /** The edges half's live view with the NEIGHBOR scrub: tombstoned
    * `q_id` rows go (plain [[live]]), and so does every row whose
    * neighbor id is tombstoned in the vectors table — a forgotten
    * document must stop being SERVED as someone's neighbor, not just
    * stop querying. The neighbor anti-join shuffles edge rows once on
    * the neighbor key (those rows live in arbitrary `q_id` buckets —
    * the irreducible cost of reverse references). */
  def liveKnnEdges(spark: SparkSession, table: String): DataFrame = {
    val vt = Similarity.knnVectorsTable(table)
    val et = Similarity.knnEdgesTable(table)
    val idCol = Bucketing.spec(spark, vt).bucketColumnNames.head
    val base = live(spark, et)
    val tombV = tombstoneTable(vt)
    if (!spark.catalog.tableExists(tombV)) base
    else base.join(spark.table(tombV).select(col(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Physical purge of a k-NN store: the edges table rewrites to
    * [[liveKnnEdges]] (row AND neighbor scrub — this must run while the
    * vector tombstones still exist, hence edges first), then the
    * vectors table purges normally. Both rewrites are staged+swapped
    * and carry the `graft.*` geometry stamp, so appends keep replaying
    * the stamped geometry afterwards (spec-pinned). A crash between the
    * two halves re-converges on rerun: the edges rewrite is idempotent
    * and the remaining vector tombstones still describe the same set. */
  def purgeKnnStore(spark: SparkSession, table: String): Unit = {
    val vt = Similarity.knnVectorsTable(table)
    val et = Similarity.knnEdgesTable(table)
    val eSpec = Bucketing.spec(spark, et)
    val tombE = tombstoneTable(et)
    val tombV = tombstoneTable(vt)
    if (spark.catalog.tableExists(tombE) ||
        spark.catalog.tableExists(tombV)) {
      graft.sinks.Bucketing.overwriteBucketedStaged(
        liveKnnEdges(spark, table), et,
        eSpec.bucketColumnNames, eSpec.numBuckets)
      spark.sql(s"DROP TABLE IF EXISTS `$tombE`")
      purge(spark, vt)
    }
  }

  /** Fingerprint-store takedown under the STILL-CLAIMED rule: a
    * candidate fingerprint (a taken-down document's normalized-text
    * md5) is retracted only when NO surviving document carries the same
    * text — otherwise the store would forget content the corpus still
    * has and re-admit its duplicates. One pass over `surviving`
    * (screened by a broadcast of the takedown-sized candidate set);
    * retraction itself is [[retract]]. */
  def retractFingerprints(spark: SparkSession, table: String,
                          takedown: DataFrame, textCol: String,
                          surviving: DataFrame,
                          survivingTextCol: String): Unit = {
    val candidates = takedown
      .select(Text.fingerprint(col(textCol)).as("fp")).distinct()
    val claimed = surviving
      .select(Text.fingerprint(col(survivingTextCol)).as("fp"))
      .join(broadcast(candidates), Seq("fp"), "left_semi")
      .distinct()
    retract(spark, table, candidates.join(claimed, Seq("fp"), "left_anti"))
  }
}
