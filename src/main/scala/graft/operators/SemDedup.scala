package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** SemDeDup (Abbas et al. 2023): semantic deduplication over embeddings —
  * cluster the corpus, and within each cluster drop every vector that has
  * a more-preferred near-twin (cosine ≥ `tau`). Catches paraphrases and
  * re-encodings that survive every lexical dedup stage.
  *
  * The quadratic comparison is confined INSIDE clusters — that is the
  * algorithm's point: assignment is the narrow [[Similarity.ivfAssign]]
  * fold (zero shuffles), and the pair join shuffles on the cluster id
  * with per-cluster group sizes bounded by the clustering granularity
  * (at scale, k grows with n to hold cluster sizes ~constant, keeping
  * the per-cluster all-pairs affordable — the paper's regime). Keep
  * preference is deterministic: the smaller id of a qualifying pair
  * survives, so reruns mark identical losers.
  *
  * The near-dup family picker table — this (model embeddings) vs
  * shingle MinHash vs hashed-BoW cosine, what each catches at what
  * cost — lives at [[Dedup.pruneNearDups]].
  */
object SemDedup {

  /** Uniqifier for the cluster-skew observe metrics (duplicate
    * CollectMetrics names in one plan are an analysis error). */
  private val clusterMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (id, cluster, kept) for every corpus row: `kept` is false iff some
    * same-cluster vector with a smaller id sits within cosine ≥ `tau`.
    *
    * Cluster-size guard (the LSH `maxBucket` lesson applied to the
    * embedding family): the paper's contract is that k grows with n so
    * cluster sizes stay ~constant, but nothing used to enforce it — a
    * degenerate clustering (one hot centroid swallowing 10⁷ vectors,
    * exactly what stale centroids produce) silently became an O(b²)
    * join in ONE task. Now every cluster larger than `maxCluster` has
    * its pair space tiled 2-D: each side is hashed into
    * `ceil(n/maxCluster)` chunks and replicated across the other side's
    * chunk axis, so the join keys on (cluster, ci, cj) and per-task
    * comparisons are bounded by `maxCluster²` regardless of skew. The
    * quadratic is the algorithm's contract and is NOT reduced — it is
    * parallelized, and the answer is bit-identical at any cap (tiling
    * only partitions the comparison space; capped == uncapped is
    * spec-pinned). Within-cap clusters tile 1×1 — the plan degenerates
    * to the plain cluster-keyed join. Every run reports skew through a
    * named observe metric `graft_semdedup_cluster_<n>` with
    * `max_cluster` (largest cluster seen) and `overcap_rows` (rows in
    * clusters past the cap): non-zero `overcap_rows` is the signal
    * that the clustering has degenerated and centroids need refresh. */
  def mark(corpus: DataFrame, centroids: DataFrame, idCol: String,
           embCol: String, centroidIdCol: String, tau: Double,
           maxCluster: Int = 4096): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    require(maxCluster >= 2, s"maxCluster must be >= 2: $maxCluster")
    val assigned = Similarity
      .ivfAssign(corpus, centroids, idCol, embCol, centroidIdCol)
      .select(col(idCol), col("centroid").as("cluster"))
      .join(corpus.select(col(idCol), col(embCol)), Seq(idCol))
    // per-row cluster size via a window (x and y branches share the one
    // cluster-keyed exchange through ReuseExchange); chunk count is 1
    // for within-cap clusters, ceil(n/maxCluster) past it
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    val sized = assigned
      .withColumn("__cn", count(lit(1)).over(w))
      .withColumn("__nc", ((col("__cn") - 1) / maxCluster).cast("int") + 1)
    val x = sized.select(col(idCol).as("__ida"), col("cluster"),
        col(embCol).as("__ea"),
        pmod(hash(col(idCol)), col("__nc")).as("__ci"), col("__nc"))
      .select(col("__ida"), col("cluster"), col("__ea"), col("__ci"),
        explode(sequence(lit(0), col("__nc") - 1)).as("__cj"))
    val y = sized.select(col(idCol).as("__idb"), col("cluster"),
        col(embCol).as("__eb"),
        pmod(hash(col(idCol)), col("__nc")).as("__cj"), col("__cn"), col("__nc"))
      .observe(s"graft_semdedup_cluster_${clusterMetricSeq.incrementAndGet()}",
        max(col("__cn")).as("max_cluster"),
        sum(when(col("__nc") > 1, 1L).otherwise(0L)).as("overcap_rows"))
      .select(col("__idb"), col("cluster"), col("__eb"), col("__cj"),
        explode(sequence(lit(0), col("__nc") - 1)).as("__ci"))
    val losers = x.join(y, Seq("cluster", "__ci", "__cj"))
      .filter(col("__ida") < col("__idb"))
      .filter(Vectors.cosine(col("__ea"), col("__eb")) >= tau)
      .select(col("__idb").as(idCol))
      .distinct()
    assigned.select(col(idCol), col("cluster"))
      .join(losers.withColumn("__lost", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("__lost"), lit(true)).as("kept"))
  }

  /** The semantic STORE of a shipped corpus — (cluster, id, embedding)
    * under a FIXED centroid set: everything incremental semantic dedup
    * needs to remember. Unlike the text stores ([[Dedup
    * .fingerprintStore]] / [[Dedup.signatureStore]]) the embeddings
    * themselves are the irreducible comparison state, but they are the
    * SMALL representation (kilobytes per document of text), and
    * persisting them clustered means a probe only ever reads the
    * clusters the batch lands in. Persist with [[writeSemanticStore]]
    * (bucketed on `cluster`) for exchange-free probes. */
  def semanticStore(corpus: DataFrame, centroids: DataFrame, idCol: String,
                    embCol: String, centroidIdCol: String): DataFrame =
    Similarity.ivfAssign(corpus, centroids, idCol, embCol, centroidIdCol)
      .select(col(idCol), col("centroid").as("cluster"))
      .join(corpus.select(col(idCol), col(embCol)), Seq(idCol))
      .select(col("cluster"), col(idCol), col(embCol))

  /** Table property recording which centroid set clustered a persisted
    * semantic store ([[centroidFingerprint]]). The fixed-centroid
    * contract is only safe if probes can PROVE they hold the same
    * centroids: a mismatched probe silently assigns the batch to wrong
    * clusters and admits near-dups. */
  val CentroidsProp = "graft.semantic.centroids"

  /** Deterministic fingerprint of a centroid SET: md5 over the
    * id-sorted (id, embedding) rows. Centroids are driver-bounded by
    * the ivfAssign contract, so the collect is the same k-row cost
    * assignment already pays. */
  def centroidFingerprint(centroids: DataFrame, centroidIdCol: String,
                          embCol: String): String = {
    val rows = centroids.select(col(centroidIdCol).cast("string"),
        col(embCol).cast("array<double>"))
      .collect()
      .map(r => s"${r.getString(0)}=${r.getSeq[Double](1).mkString(",")}")
      .sorted
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString(";").getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  private def requireCentroidsMatch(spark: org.apache.spark.sql.SparkSession,
      table: String, centroids: DataFrame, centroidIdCol: String,
      embCol: String): Unit =
    graft.sinks.Bucketing.stamped(spark, table, CentroidsProp) match {
      case Some(stored) =>
        val probe = centroidFingerprint(centroids, centroidIdCol, embCol)
        require(stored == probe,
          s"centroid set mismatch for semantic store '$table': the store " +
            s"was clustered under $stored but the probe holds $probe — a " +
            "mismatched probe would silently search the wrong clusters; " +
            "refresh with remapSemanticStore or pass the original centroids")
      case None =>
        // an unstamped store is NOT grandfathered in: it is what a crash
        // between writeSemanticStore's bucketed write and its property
        // stamp leaves behind, and silently accepting it under any
        // centroid set is exactly the corruption the guard exists to stop.
        // Recovery is one idempotent call with the original centroids.
        throw new IllegalArgumentException(
          s"semantic store '$table' has no centroid fingerprint stamp " +
            "(interrupted write?) — if these are the centroids it was " +
            "clustered under, re-stamp with stampSemanticStore(spark, " +
            "table, centroids, ...); otherwise rebuild or remap the store")
    }

  /** Re-stamps `table`'s centroid fingerprint — the recovery step for a
    * store whose [[writeSemanticStore]] was interrupted between the
    * bucketed write and the property stamp. The caller asserts these
    * ARE the centroids the store was clustered under; idempotent. */
  def stampSemanticStore(spark: org.apache.spark.sql.SparkSession,
                         table: String, centroids: DataFrame,
                         centroidIdCol: String, embCol: String): Unit =
    graft.sinks.Bucketing.stamp(spark, table, CentroidsProp,
      centroidFingerprint(centroids, centroidIdCol, embCol))

  /** Persists [[semanticStore]] bucketed on the cluster id, stamping the
    * centroid-set fingerprint as a table property so every later commit
    * or [[openSemanticStore]] probe fails FAST on mismatched centroids
    * instead of silently probing wrong clusters. */
  def writeSemanticStore(corpus: DataFrame, centroids: DataFrame,
                         idCol: String, embCol: String, centroidIdCol: String,
                         table: String, buckets: Int): Unit = {
    graft.sinks.Bucketing.writeBucketed(
      semanticStore(corpus, centroids, idCol, embCol, centroidIdCol),
      table, Seq("cluster"), buckets)
    stampSemanticStore(corpus.sparkSession, table, centroids, centroidIdCol,
      embCol)
  }

  /** The CHECKED accessor for a persisted semantic store: verifies the
    * caller's centroid set against the table's stamped fingerprint and
    * returns the store frame for [[againstCorpus]]. Fails fast BOTH on
    * drift and on a missing stamp (the residue of an interrupted
    * [[writeSemanticStore]]) — recover the latter with
    * [[stampSemanticStore]]. */
  def openSemanticStore(spark: org.apache.spark.sql.SparkSession,
                        table: String, centroids: DataFrame,
                        centroidIdCol: String, embCol: String): DataFrame = {
    requireCentroidsMatch(spark, table, centroids, centroidIdCol, embCol)
    spark.table(table)
  }

  /** Centroid REFRESH — the migration path the fixed-centroid contract
    * needs once the corpus's embedding distribution drifts: re-assigns
    * every stored (id, embedding) under `newCentroids` and rewrites the
    * table bucketed on the new cluster ids, re-stamping the fingerprint.
    * Afterwards probes under `newCentroids` are exactly the store a
    * from-scratch [[writeSemanticStore]] would have produced
    * (spec-pinned), and probes still holding the OLD centroids fail
    * fast at [[openSemanticStore]] — drift cannot be silent in either
    * direction.
    *
    * Cost is the honest one: a full rewrite of the store (assignment is
    * the narrow ivfAssign fold; the bucketed write is the one shuffle on
    * the new cluster id) — run it as the deliberate maintenance step it
    * is. Staged + swapped by
    * [[graft.sinks.Bucketing.overwriteBucketedStaged]], the new
    * fingerprint stamped onto the staging copy: never lossy, rerun to
    * converge, and an interrupted swap completes on the next open. */
  def remapSemanticStore(spark: org.apache.spark.sql.SparkSession,
                         table: String, newCentroids: DataFrame,
                         idCol: String, embCol: String,
                         centroidIdCol: String): Unit = {
    val buckets = graft.sinks.Bucketing.spec(spark, table).numBuckets
    graft.sinks.Bucketing.overwriteBucketedStaged(
      semanticStore(spark.table(table).select(col(idCol), col(embCol)),
        newCentroids, idCol, embCol, centroidIdCol),
      table, Seq("cluster"), buckets, stamps = Map(CentroidsProp ->
        centroidFingerprint(newCentroids, centroidIdCol, embCol)))
  }

  /** The commit step for the semantic store (the
    * [[graft.operators.Dedup.appendToFingerprintStore]] discipline):
    * appends an admitted snapshot's (cluster, id, embedding) rows under
    * the SAME centroids, pre-partitioned on the table's bucket spec.
    * After this, re-ingesting the snapshot (or anything within tau of
    * it) admits nothing through [[againstCorpus]]. Admitted rows are new
    * against the store by construction, but the append still anti-joins
    * the store on (cluster, `idCol`) first — the sibling stores'
    * crash-retry rule — so a double-COMMIT of the same snapshot cannot
    * seed duplicate (cluster, id, embedding) rows (duplicates could not
    * flip any-match admission verdicts, but every future probe of the
    * cluster would pay the duplicate comparisons forever). Commits also
    * verify the centroid-set fingerprint stamped on the table
    * ([[CentroidsProp]]): appending rows assigned under DIFFERENT
    * centroids would corrupt the store's clustering invariant, so a
    * drifted caller fails fast here too. */
  def appendToSemanticStore(admitted: DataFrame, centroids: DataFrame,
                            idCol: String, embCol: String,
                            centroidIdCol: String, table: String): Unit = {
    val spark = admitted.sparkSession
    requireCentroidsMatch(spark, table, centroids, centroidIdCol, embCol)
    graft.sinks.Bucketing.append(
      semanticStore(admitted, centroids, idCol, embCol, centroidIdCol)
        .join(spark.table(table).select(col("cluster"), col(idCol)),
          Seq("cluster", idCol), "left_anti"), table)
  }

  /** Prototypicality ranking (the SSL-Prototypes / D4 curation stage
    * that composes after [[mark]]): every vector's cosine to its OWN
    * assigned centroid, ranked within its cluster (rank 1 = most
    * prototypical — closest to the cluster's center of mass, the
    * easy/redundant examples the D4 recipe prunes first; high ranks =
    * the cluster's diverse tail). Returns (id, cluster, proto, rk).
    * Callers act by filtering on either end: drop low ranks to cut
    * prototype redundancy, drop `proto` below a floor to cut outliers.
    *
    * Scale: assignment + the cosine are one narrow fold per row (zero
    * shuffles — proto IS the assignment score); only the within-cluster
    * rank shuffles, keyed on the cluster id with cluster-bounded groups
    * (spillable window sort, the bounded-cluster regime again). */
  def prototypicality(corpus: DataFrame, centroids: DataFrame, idCol: String,
                      embCol: String, centroidIdCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("proto").desc, col(idCol))
    Similarity.ivfAssign(corpus, centroids, idCol, embCol, centroidIdCol)
      .select(col(idCol), col("centroid").as("cluster"),
        round(col("cos"), 6).as("proto"))
      .withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Incremental SEMANTIC dedup — the embedding member of the
    * cross-snapshot family ([[Dedup.againstCorpus]] = exact text,
    * [[Dedup.nearDupsAgainstCorpus]] = text shapes, this = meaning): a
    * batch vector is dropped when its own cluster in the shipped
    * `store` holds ANY vector within cosine ≥ `tau` (the SemDeDup
    * criterion, corpus side immutable — old vectors always win); the
    * surviving batch then twin-drops against ITSELF under the same
    * centroids ([[mark]], smaller id wins). Returns admitted batch
    * rows, all columns intact.
    *
    * Scale: batch assignment is the narrow ivfAssign fold (zero
    * shuffles); the probe join is keyed on the cluster id — exchange-
    * free on the store side when it is the [[writeSemanticStore]]
    * bucketed table — and compares batch × |that cluster| only, the
    * paper's bounded-cluster regime. The stage boundary materializes
    * once (batch-sized) before the in-batch mark, the
    * [[Dedup.nearDupsAgainstCorpus]] discipline.
    *
    * Cluster-size guard (the [[mark]] guard, shaped for an immutable
    * bucketed store): one narrow count-by-cluster over the store (its
    * only extra cost — exchange-free on a bucketed store, k-row
    * result) finds clusters past `maxCluster`. Cold clusters keep the
    * exchange-free cluster-keyed probe unchanged. Hot clusters — the
    * degenerate-clustering case — route through a chunked join where
    * ONLY their own store rows re-shuffle on (cluster, chunk), so the
    * single task that used to stream |batch ∩ c| × 10⁷ comparisons
    * becomes ceil(n/maxCluster) tasks of ≤ |batch ∩ c| × maxCluster
    * each (1-D tiling: the batch side is batch-bounded by contract,
    * only the store side needs splitting). Bit-identical at any cap;
    * `maxCluster <= 0` disables the guard and the sizing scan
    * entirely. The sizing scan runs per probe call — in a tight ingest
    * loop amortize it: cluster sizes change only at COMMIT time, so
    * probe intermediate batches with `maxCluster <= 0` and re-enable
    * on a cadence (or after each commit), rather than paying a store
    * column scan per batch. When hot clusters exist, the probe reports them via the
    * `graft_semdedup_cluster_<n>` observe metric (`overcap_rows` =
    * hot-cluster store rows probed chunked, `max_chunks`) and warns —
    * the centroids-need-refresh signal. */
  def againstCorpus(batch: DataFrame, store: DataFrame, centroids: DataFrame,
                    idCol: String, embCol: String, centroidIdCol: String,
                    tau: Double, maxCluster: Int = 1 << 16): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    val assigned = Similarity
      .ivfAssign(batch, centroids, idCol, embCol, centroidIdCol)
      .select(col(idCol), col("centroid").as("cluster"))
      .join(batch.select(col(idCol), col(embCol)), Seq(idCol))
    val cosHit = graft.functions.Vectors.cosine(col(embCol), col("__ce")) >= tau
    def plainProbe(a: DataFrame, s: DataFrame): DataFrame = a
      .join(s.select(col("cluster"), col(embCol).as("__ce")), Seq("cluster"))
      .filter(cosHit)
      .select(col(idCol)).distinct()
    // per-cluster store sizes: k-row result (k = |centroids|, the same
    // driver-bounded contract ivfAssign already relies on)
    val hotSizes =
      if (maxCluster <= 0) Array.empty[(Any, Long)]
      else store.groupBy(col("cluster")).agg(count(lit(1)).as("__cn"))
        .filter(col("__cn") > maxCluster)
        .collect().map(r => (r.get(0), r.getLong(1)))
    val hit =
      if (hotSizes.isEmpty) plainProbe(assigned, store)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"SemDedup.againstCorpus: ${hotSizes.length} cluster(s) exceed " +
            s"maxCluster=$maxCluster (largest=${hotSizes.map(_._2).max}) — " +
            "probing them chunked; the clustering has degenerated, " +
            "consider a centroid refresh (remapSemanticStore)")
        val spark = batch.sparkSession
        import spark.implicits._
        val hotKeys = hotSizes.map(_._1)
        val nChunks = hotSizes
          .map { case (c, n) => (c.toString, ((n - 1) / maxCluster + 1).toInt) }
          .toSeq.toDF("__ckey", "__nchunks")
        val isHot = col("cluster").isin(hotKeys: _*)
        val cold = plainProbe(assigned.filter(!isHot), store.filter(!isHot))
        // hot branch: only hot clusters' rows shuffle, keyed on
        // (cluster, chunk); chunk = hash of the row id when the store
        // carries one (the semanticStore contract) — ids are uniform
        // even when the embeddings themselves are degenerate-identical,
        // which is exactly the case that makes a cluster hot. Falls
        // back to the embedding hash for bare (cluster, emb) frames.
        // Chunk placement cannot change the answer — tiling only
        // partitions the comparison space.
        val chunkKey =
          if (store.columns.contains(idCol)) hash(col(idCol))
          else hash(col(embCol))
        val hotStore = store.filter(isHot)
          .join(broadcast(nChunks), col("cluster").cast("string") === col("__ckey"))
          .select(col("cluster"), col(embCol).as("__ce"),
            pmod(chunkKey, col("__nchunks")).as("__ck"), col("__nchunks"))
          .observe(s"graft_semdedup_cluster_${clusterMetricSeq.incrementAndGet()}",
            count(lit(1)).as("overcap_rows"), max(col("__nchunks")).as("max_chunks"))
          .drop("__nchunks")
        val hotBatch = assigned.filter(isHot)
          .join(broadcast(nChunks), col("cluster").cast("string") === col("__ckey"))
          .select(col(idCol), col("cluster"), col(embCol),
            explode(sequence(lit(0), col("__nchunks") - 1)).as("__ck"))
        val hot = hotBatch.join(hotStore, Seq("cluster", "__ck"))
          .filter(cosHit)
          .select(col(idCol)).distinct()
        cold.union(hot).distinct()
      }
    val novel = batch.join(hit, Seq(idCol), "left_anti").localCheckpoint()
    novel.join(
      mark(novel, centroids, idCol, embCol, centroidIdCol, tau, chunkCap(maxCluster))
        .filter(!col("kept")).select(col(idCol)),
      Seq(idCol), "left_anti")
  }

  /** `maxCluster <= 0` means "guard off": [[mark]] still requires a cap,
    * so the in-batch stage falls back to its default. */
  private def chunkCap(maxCluster: Int): Int =
    if (maxCluster >= 2) maxCluster else 4096
}
