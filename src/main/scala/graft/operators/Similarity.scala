package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Library-facing similarity-search operators over embedding columns —
  * the packaged forms of q30–q33. The scale contract everywhere: the
  * corpus is never shuffled for the similarity computation; only small
  * frames (query sets, centroids) broadcast, and candidate generation
  * pre-partitions by a bucket key.
  */
object Similarity {

  /** (q_id, idCol, cos) per kept candidate: k-bounded heap aggregate
    * per query instead of a window sort. Partial aggregation trims to k
    * map-side, so the per-query shuffle carries ≤ k entries rather than
    * the whole candidate set (graft_topk; same ORDER BY cos DESC, id
    * tie-break as the window form — the differential specs pin the
    * equivalence). The heap aggregate carries ids as longs, so
    * non-integral id columns (UUID strings etc.) take the window form
    * instead of silently null-casting away. */
  private def keepTopK(scored: DataFrame, idCol: String, k: Int,
                       scoreCol: String = "cos"): DataFrame = {
    import org.apache.spark.sql.types._
    val integralId = scored.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integralId)
      scored
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKByScore.topk(col(scoreCol), col(idCol), k).as("__top"))
        .select(col("q_id"), explode(col("__top")).as("__e"))
        .select(col("q_id"), col("__e.id").cast(scored.schema(idCol).dataType).as(idCol),
          col("__e.score").as(scoreCol))
    else {
      val w = Window.partitionBy(col("q_id")).orderBy(col(scoreCol).desc, col(idCol).asc)
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .drop("__rn")
    }
  }

  /** Approximate k-NN GRAPH over the whole corpus via multi-table
    * sign-LSH — one hash table per disjoint `bits`-wide coordinate slice
    * ([[Vectors.signBucketAt]]): candidate edges are the pairs sharing any
    * table's bucket, scored exactly (cosine over the raw embeddings) and
    * cut to each node's top `k`.
    *
    * This is the corpus×corpus companion of [[cosineTopK]], whose
    * broadcast-the-query-set shape is wrong when every row is a query.
    * The all-pairs O(n²) collapses to per-bucket joins — expected
    * n²/2^bits comparisons per table — and recall grows with `tables`
    * because disjoint coordinate slices collide independently. Downstream
    * consumers: SemDeDup-style pruning, label propagation over the graph,
    * hubness/recall audits ([[graft.queries.VectorOps]] q134).
    *
    * Scale posture: one shuffle on (table, bucket) with LSH-bounded group
    * sizes, a distinct on id pairs only (embeddings are re-attached by two
    * id-keyed joins, never carried through the pair blow-up), and the
    * map-side-combined [[graft.functions.TopKByScore]] heap for the
    * per-node cut — no window sort, no corpus broadcast. Hot buckets
    * (boilerplate embeddings) are the same skew the LSH dedup family
    * caps; here they surface as dense graph neighborhoods, which the
    * top-k heap bounds at k edges per node regardless.
    *
    * `center` (optional) re-anchors every bucketing hyperplane at the
    * given per-coordinate thresholds ([[corpusCenter]]); empty keeps
    * the plain sign buckets. Exact re-scoring is unchanged — centering
    * only moves CANDIDATE generation, which is also why this knob is
    * the MACHINERY, not the recommended recipe: hyperplanes off the
    * origin break sign-LSH's cosine-monotone collision property, so
    * threshold-centered buckets harvest centered-metric neighborhoods
    * while the scores stay raw cosine (measured, CenterScale at sf0.1:
    * balanced buckets and 2.4× less candidate mass, but lower recall
    * per candidate AGAINST THE RAW-COSINE truth than just paying for
    * more bits). When the corpus is skewed, the metric-CONSISTENT move
    * is to center the EMBEDDINGS once ([[Vectors.centered]] — the
    * all-but-the-top recipe) and feed the result here with no `center`:
    * buckets and scores then share the centered space, the skew-aware
    * scan settles at the uniform formula bits, and recall@3 vs its own
    * exact form beat the raw pipeline at 40% less candidate mass
    * (0.45 @ 0.7 M vs 0.43 @ 1.16 M — q192 registers that recipe). */
  def knnGraph(corpus: DataFrame, idCol: String, embCol: String, k: Int,
               bits: Int = AutoBits, tables: Int = 2,
               center: Seq[Double] = Nil): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    require(tables >= 1 &&
        (bits >= 1 || bits == AutoBits || bits == SkewAwareBits),
      s"knnGraph: need >=1 table/bit")
    val b = resolveGeometry(corpus, idCol, embCol, bits, tables,
      center = center)
    val s = lshSigs(corpus, idCol, embCol, b, tables, center)
    keepTopK(scoreCandidates(bucketJoin(s, s), corpus, idCol, embCol), idCol, k)
  }

  /** `bits` sentinel for [[knnGraph]]/[[writeKnnStore]]: size the LSH
    * geometry FROM THE CORPUS (⌈log₂(n / 64)⌉ bits, clamped so `tables`
    * disjoint coordinate slices fit the embedding dimension). This is
    * the DEFAULT: the round-11 scale study measured fixture-sized
    * literals (8 bits at 200 k vectors) hitting the n²/2^bits candidate
    * wall at x100 while log₂-sized geometry stayed linear — a default
    * the caller must opt OUT of (explicit bits) for parity pins, not
    * remember to opt into. */
  val AutoBits: Int = -1

  /** `bits` sentinel accepted by every geometry-taking entry point
    * ([[lshNearDup]], [[knnGraph]], [[writeKnnStore]],
    * [[marginMineBucketed]], [[writeMarginStore]]): size the geometry
    * by MEASUREMENT ([[autoBitsSkewAware]]) instead of the
    * uniform-bucket formula — the right choice when the embedding
    * family is known skewed (hashed-BoW text embeddings) AND the
    * buckets stay in raw space; centering the geometry removes the
    * skew instead, which is why [[DocEmbed.pruneNearDups]] now
    * defaults to centered buckets at the plain formula bits
    * (round 13; this sentinel remains the raw-space answer, e.g.
    * `centered = false` there). Stores stamp the
    * RESOLVED bits, so appends/probes replay the measured geometry
    * without re-measuring. Costs a few sizing aggregations up front;
    * semantics unchanged (more bits only trade boundary recall for
    * candidate cost). */
  val SkewAwareBits: Int = -2

  /** The sizing formula behind [[AutoBits]]/[[knnGraphAuto]], exposed
    * for specs: expected bucket population stays at `targetBucket`
    * whatever the corpus size, so candidate pairs grow linearly in n. */
  private[graft] def autoBits(n: Long, dim: Int, tables: Int,
                              targetBucket: Int = 64): Int = {
    val wanted = math.max(1,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt)
    math.min(wanted, math.max(1, dim / tables))
  }

  /** One count + one head job when auto-sizing; zero jobs for explicit
    * bits (the parity-pin path is unchanged). [[SkewAwareBits]] is
    * REJECTED here, loudly: the entry points that deliberately skip the
    * measurement ([[knnGraphAppend]] — whose rebuild identity requires
    * replaying the OLD graph's geometry, not re-measuring it) would
    * otherwise thread the -2 sentinel into [[lshSigs]] as a zero-bit
    * bucket expression — every row in ONE bucket, a silent quadratic. */
  private def resolveBits(corpus: DataFrame, embCol: String, bits: Int,
                          tables: Int, targetBucket: Int = 64): Int =
    if (bits != AutoBits) {
      require(bits >= 1,
        s"bits = $bits: this entry point takes explicit bits or AutoBits " +
          "only. SkewAwareBits re-measures the corpus — wrong for " +
          "geometry-replaying paths (knnGraphAppend); resolve it up front " +
          "via autoBitsSkewAware and pass the concrete value")
      bits
    } else {
      val n = corpus.count()
      val dim = corpus.select(size(col(embCol))).head().getInt(0)
      autoBits(n, dim, tables, targetBucket)
    }

  /** Incremental [[knnGraph]] maintenance — the ANN-graph member of the
    * incremental-store family: merge a NEW vector batch into an existing
    * graph WITHOUT re-scoring old×old pairs. Only pairs touching the
    * batch are generated (new×all in both directions); the merged edge
    * list re-cuts each node's top k. Because LSH candidate generation is
    * pairwise-independent and top-k(top-k(A) ∪ B) = top-k(A ∪ B) under
    * the total (score desc, id asc) order, the result is IDENTICAL to
    * rebuilding from scratch — pinned by q151's from-scratch oracle and
    * KnnGraphSpec's differential.
    *
    * Scale posture: per append, cost is |batch|-proportional (batch sigs
    * shuffle against the corpus sigs on the bucket key, never old×old);
    * the old graph contributes k·|old| rows to the final heap re-cut. */
  def knnGraphAppend(oldGraph: DataFrame, oldCorpus: DataFrame,
                     newBatch: DataFrame, idCol: String, embCol: String,
                     k: Int, bits: Int = AutoBits, tables: Int = 2,
                     center: Seq[Double] = Nil): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(oldCorpus.sparkSession)
    // the rebuild identity requires the OLD graph's geometry: AutoBits
    // resolves against the old corpus, mirroring what a default-geometry
    // knnGraph(oldCorpus) chose at build time. Persistent stores don't
    // rely on this mirror — appendToKnnStore replays the stamped value
    // (bits AND center: a drifting center would land the batch in
    // buckets the stored signatures never occupied).
    val b = resolveBits(oldCorpus, embCol, bits, tables)
    val all = oldCorpus.select(col(idCol), col(embCol))
      .unionByName(newBatch.select(col(idCol), col(embCol)))
    val sAll = lshSigs(all, idCol, embCol, b, tables, center)
    val sNew = lshSigs(newBatch, idCol, embCol, b, tables, center)
    // new×new pairs appear in both joins — distinct, or the heap would
    // count a duplicated best neighbor twice and shift the k-th slot
    val touching = bucketJoin(sNew, sAll)
      .unionByName(bucketJoin(sAll, sNew))
      .distinct()
    // the merged union is ALSO deduped: when the "new" batch overlaps
    // the old corpus (the crash-retry shape of appendToKnnStore, where
    // the edges table already committed but the vectors append didn't),
    // re-scored pairs are bit-identical to their stored rows and must
    // not occupy two heap slots — the distinct makes the rewrite
    // idempotent (KnnStoreSpec pins the converged retry)
    val merged = oldGraph.select(col("q_id"), col(idCol), col("cos"))
      .unionByName(scoreCandidates(touching, all, idCol, embCol))
      .distinct()
    keepTopK(merged, idCol, k)
  }

  /** Geometry stamp carried by both tables of a persistent k-NN store:
    * probes and appends under a DIFFERENT (k, bits, tables) would
    * silently produce a wrong graph — the centroid-fingerprint
    * discipline of the semantic store applied to LSH geometry. */
  val KnnGeometryProp = "graft.knn.geometry"
  def knnVectorsTable(table: String): String = s"${table}_vectors"
  def knnEdgesTable(table: String): String = s"${table}_edges"
  // center coordinates are stamped as raw IEEE-754 bit patterns (hex
  // longs), not decimal strings: the replayed thresholds must be
  // BIT-IDENTICAL to the written ones or a probe lands beside the
  // stored signatures at the bucket boundary
  private def centerString(center: Seq[Double]): String =
    center.map(d => java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(d))).mkString(",")
  private[graft] def parseCenter(s: String): Seq[Double] =
    if (s.isEmpty) Nil
    else s.split(",").toSeq.map(h =>
      java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16)))
  private def geomString(k: Int, bits: Int, tables: Int,
                         center: Seq[Double] = Nil): String =
    s"k=$k;bits=$bits;tables=$tables" +
      (if (center.isEmpty) "" else s";center=${centerString(center)}")

  /** Persists the k-NN graph as the incremental-store pair
    * `<table>_vectors` (id, embedding; bucketed by id — the append
    * path's anti-join and score joins read it exchange-free) and
    * `<table>_edges` (q_id, id, cos; bucketed by q_id — per-node
    * neighbor reads prune to one bucket), both stamped with the LSH
    * geometry. The ANN-graph member of the store family beside the
    * fingerprint / signature / semantic / span / postings stores. */
  def writeKnnStore(corpus: DataFrame, idCol: String, embCol: String,
                    table: String, k: Int, bits: Int = AutoBits,
                    tables: Int = 2, buckets: Int = 8,
                    center: Seq[Double] = Nil): Unit = {
    val spark = corpus.sparkSession
    // auto-sized geometry (formula or measured) is resolved to a
    // CONCRETE bits value here so the stamp records it: appends replay
    // the stamped geometry, never re-derive it (a growing store would
    // otherwise drift tables apart). The center vector is part of that
    // geometry — it moves every bucketing hyperplane — so it is stamped
    // (bit-exact) and replayed the same way.
    val b = resolveGeometry(corpus, idCol, embCol, bits, tables,
      center = center)
    graft.sinks.Bucketing.writeBucketed(
      corpus.select(col(idCol), col(embCol)),
      knnVectorsTable(table), Seq(idCol), buckets)
    graft.sinks.Bucketing.writeBucketed(
      knnGraph(corpus, idCol, embCol, k, b, tables, center),
      knnEdgesTable(table), Seq("q_id"), buckets)
    val geom = geomString(k, b, tables, center)
    Seq(knnVectorsTable(table), knnEdgesTable(table)).foreach(
      graft.sinks.Bucketing.stamp(spark, _, KnnGeometryProp, geom))
  }

  private def storedGeometry(spark: org.apache.spark.sql.SparkSession,
                             table: String): (Int, Int, Int, Seq[Double]) = {
    val raw = graft.sinks.Bucketing.stamped(spark, table, KnnGeometryProp)
      .getOrElse(throw new IllegalStateException(
        s"'$table' carries no $KnnGeometryProp stamp — not a k-NN store " +
          "table, or an interrupted write; rebuild via writeKnnStore"))
    val re = "k=(\\d+);bits=(\\d+);tables=(\\d+)(?:;center=([0-9a-f,]+))?".r
    raw match {
      case re(k, b, t, c) =>
        (k.toInt, b.toInt, t.toInt, parseCenter(Option(c).getOrElse("")))
      case _ => throw new IllegalStateException(
        s"unparseable geometry stamp '$raw' on '$table'")
    }
  }

  /** Merges a new vector batch into a persisted k-NN store WITHOUT
    * re-scoring old×old pairs ([[knnGraphAppend]] math; geometry comes
    * from the store's own stamp, so a caller cannot diverge from it).
    * Commit discipline: the batch is first anti-joined against the
    * vectors table (a double-commit of the same snapshot is a no-op),
    * the EDGES table is rewritten staged+swapped (existing nodes' edge
    * lists can change — append-only doesn't apply), and the vectors
    * append lands LAST: a crash after the edge swap retries with the
    * same fresh set and the idempotent distinct merge, converging to
    * the exact from-scratch graph (KnnStoreSpec). */
  def appendToKnnStore(batch: DataFrame, idCol: String, embCol: String,
                       table: String): Unit = {
    val spark = batch.sparkSession
    val vt = knnVectorsTable(table)
    val et = knnEdgesTable(table)
    val geomE = storedGeometry(spark, et)
    val geomV = storedGeometry(spark, vt)
    require(geomE == geomV,
      s"geometry stamps diverge between '$vt' ($geomV) and '$et' ($geomE)")
    val (k, bits, tables, center) = geomE
    val oldVecs = spark.table(vt)
    // stage-boundary pin: the fresh set is consumed by both the edge
    // rewrite and the final vectors append, and must be decided BEFORE
    // either commit moves
    val fresh = batch.select(col(idCol), col(embCol))
      .join(oldVecs.select(col(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint()
    val merged = knnGraphAppend(spark.table(et), oldVecs, fresh,
      idCol, embCol, k, bits, tables, center)
    graft.sinks.Bucketing.overwriteBucketedStaged(merged, et, Seq("q_id"),
      graft.sinks.Bucketing.spec(spark, et).numBuckets)
    graft.sinks.Bucketing.append(fresh, vt)
  }

  /** Geometry MIGRATION for a persisted k-NN store — the
    * [[graft.operators.SemDedup.remapSemanticStore]] twin the store
    * family was missing: a store whose corpus outgrew its stamped bits
    * sits on the n²/2^bits candidate wall, and [[openKnnStore]]'s
    * fail-fast (correctly) refuses any other geometry — previously the
    * only way out was a by-hand rebuild. This re-signs the STORED
    * vectors under the new `(k, bits, tables)` — pass [[AutoBits]] to
    * re-size from the current corpus count, the usual reason to
    * migrate — rebuilds the edges table staged+swapped, and re-stamps.
    * The result is exactly what a from-scratch [[writeKnnStore]] at the
    * new geometry would produce (spec-pinned); the vectors table's rows
    * and bucketing are geometry-independent and untouched.
    *
    * Crash discipline: the VECTORS stamp moves FIRST, so from the first
    * committed step until the edges swap in (stamped on their staging
    * copy) the two stamps diverge and every probe/append fails fast — a
    * half-migrated store can never be read as either geometry. Any crash
    * converges by re-running (interrupted edge swaps complete via the
    * staging table; every step is idempotent). Cost is the honest full
    * edge rebuild — run it as the deliberate maintenance step it is. */
  def regeomKnnStore(spark: org.apache.spark.sql.SparkSession,
                     table: String, k: Int, bits: Int = AutoBits,
                     tables: Int = 2, center: Seq[Double] = Nil): Unit = {
    val vt = knnVectorsTable(table)
    val et = knnEdgesTable(table)
    val (vecs, idCol, embCol) = vectorsTable(spark, vt, "k-NN")
    // migration re-sizes from the CURRENT corpus, so the measuring
    // sentinel is legitimate here (unlike the geometry-replaying append)
    val b = resolveGeometry(vecs, idCol, embCol, bits, tables,
      center = center)
    val geom = geomString(k, b, tables, center)
    graft.sinks.Bucketing.stamp(spark, vt, KnnGeometryProp, geom)
    graft.sinks.Bucketing.overwriteBucketedStaged(
      knnGraph(vecs, idCol, embCol, k, b, tables, center),
      et, Seq("q_id"), graft.sinks.Bucketing.spec(spark, et).numBuckets,
      stamps = Map(KnnGeometryProp -> geom))
  }

  /** Center-drift report for a CENTERED k-NN store — the operational
    * half of the centering feature (the SemDedup drift-guard discipline
    * applied to the center stamp): appends replay the STAMPED center by
    * design, but the corpus the stamp was measured on keeps growing, and
    * once the live mean has drifted the balanced-bucket premise erodes
    * (cost first, recall second). This measures the CURRENT store
    * contents' sampled mean ([[corpusCenter]], same determinism) against
    * the stamp and returns (l2, linf, stampedL2norm) — alert/re-center
    * via [[regeomKnnStore]] when l2 is a meaningful fraction of the
    * stamped norm. Fails fast when the store carries no center (nothing
    * to drift from). Cost: one bounded-sample mean over the vectors
    * table — a monitoring pass, not a rebuild. */
  def knnStoreCenterDrift(spark: org.apache.spark.sql.SparkSession,
                          table: String,
                          sampleK: Int = 65536): (Double, Double, Double) = {
    val vt = knnVectorsTable(table)
    val (_, _, _, stamped) = storedGeometry(spark, vt)
    require(stamped.nonEmpty,
      s"'$table' carries no center in its geometry stamp — " +
        "knnStoreCenterDrift monitors centered stores; plain stores " +
        "have no mean to drift from")
    val (vecs, idCol, embCol) = vectorsTable(spark, vt, "k-NN")
    val current = corpusCenter(vecs, idCol, embCol, sampleK)
    require(current.length == stamped.length,
      s"stamped center has ${stamped.length} dims, store vectors " +
        s"have ${current.length}")
    val diffs = current.zip(stamped).map { case (c, s) => c - s }
    val l2 = math.sqrt(diffs.foldLeft(0.0)((a, d) => a + d * d))
    val linf = diffs.foldLeft(0.0)((a, d) => math.max(a, math.abs(d)))
    val norm = math.sqrt(stamped.foldLeft(0.0)((a, d) => a + d * d))
    (l2, linf, norm)
  }

  /** Checked accessor for a persisted k-NN store's edge frame: fails
    * fast on a missing/diverged geometry stamp. */
  def openKnnStore(spark: org.apache.spark.sql.SparkSession,
                   table: String): DataFrame = {
    val geomE = storedGeometry(spark, knnEdgesTable(table))
    val geomV = storedGeometry(spark, knnVectorsTable(table))
    require(geomE == geomV, s"geometry stamps diverge on '$table'")
    spark.table(knnEdgesTable(table))
  }

  /** A persisted vectors table (k-NN or margin store) with its id and
    * embedding column names, read from its own schema: the embedding is
    * the (single) array column, the id the other. */
  private def vectorsTable(spark: org.apache.spark.sql.SparkSession,
                           vt: String, store: String): (DataFrame, String, String) = {
    graft.sinks.Bucketing.spec(spark, vt) // finish an interrupted swap
    val vecs = spark.table(vt)
    val embCol = vecs.schema.fields
      .find(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      .getOrElse(throw new IllegalStateException(
        s"'$vt' has no array column — not a $store vectors table")).name
    (vecs, vecs.schema.fields.find(_.name != embCol).get.name, embCol)
  }

  // ---- persistent margin-mining (LSH) store ------------------------

  /** Geometry stamp for a persisted margin-mining store: `bits`/`tables`
    * fix the signature space — batch signatures under any other geometry
    * would land in disjoint buckets and silently mine nothing. `k` and
    * `tau` are MINING-time parameters (they bound the candidate algebra,
    * not the layout), so they are caller-chosen per probe. */
  val LshGeometryProp = "graft.lsh.geometry"
  def marginVectorsTable(table: String): String = s"${table}_vectors"
  def marginSigsTable(table: String): String = s"${table}_sigs"
  private def lshGeomString(bits: Int, tables: Int): String =
    s"bits=$bits;tables=$tables"

  /** Persists a corpus for REPEATED margin mining ([[marginMineStore]])
    * as `<table>_vectors` (id, embedding; bucketed by id — candidate
    * re-scoring joins read it exchange-free) and `<table>_sigs`
    * (id, table, bucket; bucketed by the (table, bucket) join key — the
    * piece [[marginMineBucketed]] re-derives and re-shuffles on every
    * run). With both persisted, mining a new batch against the shipped
    * corpus costs O(batch): the batch's signatures shuffle once onto
    * the store's bucket layout, candidates re-score against id-bucketed
    * vectors, and the margin algebra is k-bounded past that — the
    * shipped side is never re-signed, never re-shuffled (the q161 store
    * discipline applied to bitext mining). */
  def writeMarginStore(corpus: DataFrame, idCol: String, embCol: String,
                       table: String, bits: Int = AutoBits,
                       tables: Int = 2, buckets: Int = 8): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val spark = corpus.sparkSession
    val b = resolveGeometry(corpus, idCol, embCol, bits, tables)
    graft.sinks.Bucketing.writeBucketed(
      corpus.select(col(idCol), col(embCol)),
      marginVectorsTable(table), Seq(idCol), buckets)
    graft.sinks.Bucketing.writeBucketed(
      lshSigs(corpus, idCol, embCol, b, tables)
        .select(col("__id").as(idCol), col("__tbl"), col("__bucket")),
      marginSigsTable(table), Seq("__tbl", "__bucket"), buckets)
    val geom = lshGeomString(b, tables)
    Seq(marginVectorsTable(table), marginSigsTable(table)).foreach(
      graft.sinks.Bucketing.stamp(spark, _, LshGeometryProp, geom))
  }

  private def storedLshGeometry(spark: org.apache.spark.sql.SparkSession,
                                table: String): (Int, Int) = {
    val raw = graft.sinks.Bucketing.stamped(spark, table, LshGeometryProp)
      .getOrElse(throw new IllegalStateException(
        s"'$table' carries no $LshGeometryProp stamp — not a margin " +
          "store table, or an interrupted write; rebuild via " +
          "writeMarginStore"))
    val re = "bits=(\\d+);tables=(\\d+)".r
    raw match {
      case re(b, t) => (b.toInt, t.toInt)
      case _ => throw new IllegalStateException(
        s"unparseable geometry stamp '$raw' on '$table'")
    }
  }

  /** Appends a new snapshot to a persisted margin store, replaying the
    * stamped geometry; anti-joins the vectors table first so a
    * crash-retry double-append is a no-op, and commits sigs BEFORE
    * vectors (a crash between the two leaves ids whose sigs exist but
    * whose vectors don't — re-running converges because the sigs append
    * anti-joins on id too; a sig row without its vector row never mines
    * a pair, it just collides into candidates that the re-scoring join
    * drops). */
  def appendToMarginStore(batch: DataFrame, idCol: String, embCol: String,
                          table: String): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    val spark = batch.sparkSession
    val vt = marginVectorsTable(table)
    val st = marginSigsTable(table)
    val geomV = storedLshGeometry(spark, vt)
    val geomS = storedLshGeometry(spark, st)
    require(geomV == geomS,
      s"geometry stamps diverge between '$vt' ($geomV) and '$st' ($geomS)")
    val (bits, tables) = geomV
    // resolve the STORED id/emb column names from the table schemas (the
    // marginMineStore discipline) — a batch whose idCol differs from the
    // write-time name must still anti-join against the right column
    // instead of dying in a raw AnalysisException
    val (vecs, vIdCol, vEmbCol) = vectorsTable(spark, vt, "margin-store")
    val sIdCol = spark.table(st).schema.fields
      .find(f => f.name != "__tbl" && f.name != "__bucket").get.name
    val fresh = batch.select(col(idCol).as(vIdCol), col(embCol).as(vEmbCol))
      .join(vecs.select(col(vIdCol)), Seq(vIdCol), "left_anti")
      .localCheckpoint()
    graft.sinks.Bucketing.append(lshSigs(fresh, vIdCol, vEmbCol, bits, tables)
      .select(col("__id").as(sIdCol), col("__tbl"), col("__bucket"))
      .join(spark.table(st).select(col(sIdCol)), Seq(sIdCol), "left_anti"), st)
    graft.sinks.Bucketing.append(fresh, vt)
  }

  /** [[marginMineBucketed]] with the shipped side read from a persisted
    * [[writeMarginStore]] store: candidates come from the batch's
    * signatures joined against the PERSISTED bucket layout (store side
    * exchange-free), re-scoring reads the id-bucketed vectors, and the
    * margin algebra (per-endpoint k-NN means over candidates, mutual
    * best, `margin >= tau`) is exactly [[mineFromScored]] — the
    * differential MarginMineSpec pins store-probed == from-scratch
    * [[marginMineBucketed]] at the stamped geometry. Store ids are the
    * a-side. */
  def marginMineStore(spark: org.apache.spark.sql.SparkSession,
                      table: String, b: DataFrame, idCol: String,
                      embCol: String, k: Int, tau: Double): DataFrame = {
    require(k >= 1, s"marginMineStore: k must be positive: $k")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val vt = marginVectorsTable(table)
    val st = marginSigsTable(table)
    val geomV = storedLshGeometry(spark, vt)
    val geomS = storedLshGeometry(spark, st)
    require(geomV == geomS,
      s"geometry stamps diverge between '$vt' ($geomV) and '$st' ($geomS)")
    val (bits, tables) = geomV
    val storeSigs = spark.table(st)
    val sIdCol = storeSigs.schema.fields
      .find(f => f.name != "__tbl" && f.name != "__bucket").get.name
    val cand = storeSigs.select(col(sIdCol).as("a_id"),
        col("__tbl"), col("__bucket"))
      .join(lshSigs(b, idCol, embCol, bits, tables)
        .select(col("__id").as("b_id"), col("__tbl"), col("__bucket")),
        Seq("__tbl", "__bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val (vecs, vIdCol, vEmbCol) = vectorsTable(spark, vt, "margin-store")
    val scored = cand
      .join(vecs.select(col(vIdCol).as("a_id"), col(vEmbCol).as("__ea")),
        Seq("a_id"))
      .join(b.select(col(idCol).as("b_id"), col(embCol).as("__eb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        Vectors.cosine(col("__ea"), col("__eb")).as("cos"))
    mineFromScored(scored, k, tau)
  }

  /** [[knnGraph]] with `bits` SIZED FROM THE CORPUS — the executable
    * form of the sizing contract the round-11 scale study measured
    * (fixture-sized 8 bits at 200 k vectors ⇒ n²/2^8 candidate pairs
    * and a >10-minute run; 16 bits ⇒ 2.6 s): bits = ⌈log₂(n /
    * targetBucket)⌉ keeps the expected bucket population at
    * `targetBucket` whatever the corpus size, clamped so `tables`
    * disjoint slices still fit the embedding dimension. One count job
    * up front (the autoBloomBits precedent — driver state is one long).
    *
    * The result depends on n through the sizing, so unlike [[knnGraph]]
    * it is not oracle-pinnable at a fixed geometry; KnnGraphSpec pins
    * auto == manual at the size the formula selects. */
  def knnGraphAuto(corpus: DataFrame, idCol: String, embCol: String, k: Int,
                   targetBucket: Int = 64, tables: Int = 2): DataFrame = {
    require(targetBucket >= 1, s"knnGraphAuto: targetBucket >= 1")
    val bits = resolveBits(corpus, embCol, AutoBits, tables, targetBucket)
    knnGraph(corpus, idCol, embCol, k, bits, tables)
  }

  /** SKEW-AWARE LSH sizing — [[autoBits]]' formula assumes uniform
    * bucket occupancy, but real embedding families violate it: hashed-
    * BoW document embeddings concentrate on few sign patterns (common-
    * word mass pushes most documents the same way — measured ~12×
    * candidate inflation at the formula geometry, SURVEY §6), so the
    * formula's "expected bucket = targetBucket" understates candidate
    * mass by the corpus's skew factor. This variant MEASURES: starting
    * at the formula bits, it counts the actual candidate pairs per row
    * (Σ b·(b−1)/2 over buckets, one cheap aggregation per step) and
    * adds bits until the measured mass is within `slack`× the uniform
    * target or the dim/tables clamp is hit. Bounded work: candidates
    * only shrink as bits grow, and the loop runs at most the clamp
    * minus the formula start (each step one count-shaped job over n
    * sig rows).
    *
    * Opt-in by design: the dynamic-bits ORACLES pin the formula
    * geometry, so registered queries keep [[AutoBits]]; pass this
    * result as explicit `bits` to [[knnGraph]]/[[writeKnnStore]]/
    * [[marginMineBucketed]] when the corpus is known skewed (stores
    * stamp whatever geometry they are given, so the whole lifecycle
    * inherits it). Exact re-scoring semantics are unchanged — more
    * bits only trades boundary recall for candidate cost, the
    * documented knob. */
  def autoBitsSkewAware(corpus: DataFrame, idCol: String, embCol: String,
                        tables: Int = 2, targetBucket: Int = 64,
                        slack: Double = 2.0,
                        center: Seq[Double] = Nil): Int = {
    require(tables >= 1 && targetBucket >= 1 && slack >= 1.0,
      s"autoBitsSkewAware: tables >= 1, targetBucket >= 1, slack >= 1")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val vecs = corpus.select(col(idCol), col(embCol)).localCheckpoint()
    val n = vecs.count()
    require(n >= 1, "autoBitsSkewAware: empty corpus")
    val dim = vecs.select(size(col(embCol))).head().getInt(0)
    val clamp = math.max(1, dim / tables)
    var bits = math.min(autoBits(n, dim, tables, targetBucket), clamp)
    // uniform target: ~targetBucket candidates per row per table.
    // Measured at the geometry the caller will USE (centered thresholds
    // included): a center that re-balances the buckets shows up here as
    // a smaller resolved bits — the cost-side half of the centering win.
    val budget = (slack * n.toDouble * targetBucket * tables).toLong
    def mass(b: Int): Long = {
      val row = lshSigs(vecs, idCol, embCol, b, tables, center)
        .groupBy(col("__tbl"), col("__bucket"))
        .agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n") * (col("__n") - lit(1L))).as("__m"))
        .head()
      if (row.isNullAt(0)) 0L else row.getLong(0) / 2
    }
    while (bits < clamp && mass(bits) > budget) bits += 1
    bits
  }

  /** Per-coordinate corpus mean over a DETERMINISTIC bounded sample —
    * the centering thresholds [[Vectors.signBucketCenteredAt]] anchors
    * the bucketing hyperplanes at. Sampling is the q94 idiom (smallest
    * `sampleK` rows by md5(id:salt) — content-addressed, so rerun /
    * engine / cluster-size stable and reproducible in the DuckDB
    * oracle), which bounds the mean's aggregation state by `sampleK`
    * per dimension REGARDLESS of corpus size — an exact whole-corpus
    * ordered mean would buffer n values per dimension (the
    * [[Pca.topComponents]] trainer shape, deliberately sample-sized).
    * Each dimension's sum is a strict left fold over the sampled rows
    * in id order (the q135 ordered-mean discipline), so the returned
    * thresholds are bit-identical across runs and engines. Cost: one
    * distributed top-`sampleK` + one bounded aggregation — a train-time
    * artifact, computed once and stamped/passed as plan literals. */
  def corpusCenter(corpus: DataFrame, idCol: String, embCol: String,
                   sampleK: Int = 65536, salt: String = ""): Seq[Double] = {
    require(sampleK >= 1, s"corpusCenter: sampleK must be positive: $sampleK")
    val smp = corpus
      .select(col(idCol).as("__id"),
        col(embCol).cast("array<double>").as("__x"),
        md5(concat(col(idCol).cast("string"), lit(":" + salt))).as("__h"))
      .orderBy(col("__h"), col("__id"))   // TakeOrdered: distributed top-k
      .limit(sampleK)
      .select(col("__id"), col("__x"))
    val pos = smp
      .select(col("__id"), posexplode(col("__x")).as(Seq("__j", "__v")))
    val sums = pos.groupBy(col("__j"))
      .agg(
        graft.functions.OrderedSum.orderedSumBy(col("__id"), col("__v"),
          smp.schema("__id").dataType).as("__sum"),
        count(lit(1)).as("__n"))
      .collect()
    require(sums.nonEmpty, "corpusCenter: empty corpus")
    require(sums.map(_.getLong(2)).distinct.length == 1,
      "corpusCenter: ragged/null embeddings — per-dimension sample counts differ")
    val byDim = sums.map(r => r.getInt(0) -> (r.getDouble(1) / r.getLong(2))).toMap
    (0 until byDim.size).map(j => byDim.getOrElse(j,
      throw new IllegalStateException(
        s"corpusCenter: ragged embeddings — dimension $j missing")))
  }

  /** [[resolveBits]] plus the [[SkewAwareBits]] sentinel — the shared
    * front door of every geometry-taking entry point: explicit bits
    * pass through (parity pins), [[AutoBits]] applies the uniform
    * formula, [[SkewAwareBits]] measures (at the caller's centered
    * thresholds when given). */
  private def resolveGeometry(corpus: DataFrame, idCol: String,
                              embCol: String, bits: Int, tables: Int,
                              targetBucket: Int = 64,
                              center: Seq[Double] = Nil): Int =
    if (bits == SkewAwareBits)
      autoBitsSkewAware(corpus, idCol, embCol, tables, targetBucket,
        center = center)
    else resolveBits(corpus, embCol, bits, tables, targetBucket)

  /** (id, table, bucket) sign-LSH signature frame: one row per vector
    * per hash table, table t reading coordinate slice [t·bits, (t+1)·bits). */
  private def lshSigs(corpus: DataFrame, idCol: String, embCol: String,
                      bits: Int, tables: Int,
                      center: Seq[Double] = Nil): DataFrame = {
    // Geometry must fit the embedding: signBucketAt's element_at past
    // the array end reads null → a constant '0' bit (non-ANSI), so
    // oversized bits*tables silently collapses the extra bits of every
    // table into shared constants (recall loss, hot buckets) — and
    // would throw under ANSI mode. Checked per row (dims may be ragged)
    // with a codegen'd branch, zero extra jobs; knnGraphAuto clamps to
    // the same bound up front.
    val need = bits * tables
    require(center.isEmpty || center.length >= need,
      s"lshSigs: center has ${center.length} coordinates, geometry reads $need")
    val emb = when(size(col(embCol)) >= need, col(embCol))
      .otherwise(raise_error(concat(
        lit(s"lshSigs: bits*tables = $need exceeds embedding dim "),
        size(col(embCol)).cast("string"))))
    def bucketAt(e: Column)(t: Int): Column =
      if (center.isEmpty) Vectors.signBucketAt(e, bits, t * bits)
      else Vectors.signBucketCenteredAt(e, bits, t * bits, center)
    // Bind the guarded embedding ONCE via a single-element transform:
    // every element_at of every bit otherwise re-inlines the whole
    // size-guard CASE/raise_error chain (bits*tables copies in the
    // plan — codegen CSE does not cross the per-bit `when`s), the
    // q205 mechanism. Values identical: the lambda variable is the
    // same guarded array, the guard still raises per undersized row.
    // kernel floor (Par.widen): bits×tables sign-dots per row ride the
    // scan stage — re-deal a one-task input before paying them
    Par.widen(corpus).select(col(idCol).as("__id"),
      posexplode(element_at(transform(array(emb), e =>
        array((0 until tables).map(bucketAt(e)): _*)), 1))
        .as(Seq("__tbl", "__bucket")))
  }

  /** Distinct candidate id pairs sharing any table's bucket. */
  private def bucketJoin(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("__id").as("q_id"), col("__tbl"), col("__bucket"))
      .join(b.select(col("__id").as("__dst"), col("__tbl"), col("__bucket")),
        Seq("__tbl", "__bucket"))
      .filter(col("q_id") =!= col("__dst"))
      .select(col("q_id"), col("__dst"))
      .distinct()

  /** Exact cosine for candidate pairs: embeddings re-attached by two
    * id-keyed joins (never carried through the pair blow-up). Norms are
    * precomputed per corpus ROW before the join, so each pair pays one
    * dot product instead of three (`dot(a,b)/(‖a‖·‖b‖)` with the norms
    * hoisted is the identical IEEE expression tree — `sqrt(dot(a,a))`
    * per vector, then the same multiply/divide — measured 3× less pair
    * math on the knnGraph scoring stage, guide §1.2 per-task work). */
  private def scoreCandidates(cand: DataFrame, corpus: DataFrame,
                              idCol: String, embCol: String): DataFrame = {
    // Par.widen: `corpus` is often itself a per-row vectorization (the
    // text-knn path) — both re-attach scans pay that kernel, so floor
    // their parallelism like lshSigs does
    val emb = Par.widen(corpus).select(col(idCol), col(embCol),
      Vectors.norm(col(embCol)).as("__nrm"))
    cand
      .join(emb.select(col(idCol).as("q_id"), col(embCol).as("__emb_a"),
        col("__nrm").as("__na")), Seq("q_id"))
      .join(emb.select(col(idCol).as("__dst"), col(embCol).as("__emb_b"),
        col("__nrm").as("__nb")), Seq("__dst"))
      .select(col("q_id"), col("__dst").as(idCol),
        (Vectors.dot(col("__emb_a"), col("__emb_b")) /
          (col("__na") * col("__nb"))).as("cos"))
  }

  /** Brute-force cosine top-k: every (query, corpus) pair scored map-side
    * (query set broadcasts), k-bounded heap per query. Exact; cost is
    * |queries| × |corpus| dot products — the correctness baseline and
    * fine whenever the query set is small. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 embCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("__q_emb"))
    val scored = broadcast(q).join(corpus, col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol),
        Vectors.cosine(col("__q_emb"), col(embCol)).as("cos"))
    keepTopK(scored, idCol, k)
  }

  /** Scalar (SQ8) quantization of the embedding column: per-vector
    * max-abs scale plus truncated int8 codes — the 4× storage shrink
    * for ANN corpora (float32 → int8) with per-vector reconstruction
    * `x_i ≈ q8_i · m / 127`. Narrow, codegen'd, deterministic (trunc,
    * not round — the engine-portable cast). */
  def sq8Encode(corpus: DataFrame, idCol: String, embCol: String): DataFrame =
    sq8EncodeAll(corpus, embCol).select(col(idCol), col("m"), col("q8"))

  /** [[sq8Encode]] keeping EVERY input column (`m` / `q8` appended) —
    * the composition form [[ivfSq8TopK]] needs so the IVF list
    * assignment survives the encode (the [[ivfAssignAll]] motif). */
  def sq8EncodeAll(corpus: DataFrame, embCol: String): DataFrame =
    corpus
      .withColumn("m",
        array_max(transform(col(embCol), x => abs(x.cast("double")))))
      .withColumn("q8",
        transform(col(embCol),
          x => (x.cast("double") * 127.0 / col("m")).cast("int")))

  /** Brute-force top-k over an SQ8-quantized corpus, ADC-style: the
    * query stays float and each code list is scored asymmetrically —
    * `score = (m / 127) · Σ q8_i · query_i` — one integer-by-float
    * codegen'd dot per pair, never reconstructing the float vector.
    * Same shape as [[cosineTopK]] (broadcast queries, k-bounded heap,
    * corpus never shuffles) at a quarter of the corpus bytes; compose
    * with the IVF routing of [[ivfTopK]] for the 100 TB path exactly
    * as [[ivfPqTopK]] does for PQ codes. */
  def sq8AdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 embCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val enc = sq8Encode(corpus, idCol, embCol)
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("__q_emb"))
    val scored = broadcast(q).join(enc, col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol),
        // int8 codes widen to double at the kernel boundary (exact);
        // the stored column stays int8-narrow
        ((col("m") / 127.0) * Vectors.dot(col("q8").cast("array<double>"),
          col("__q_emb"))).as("score"))
    keepTopK(scored, idCol, k, scoreCol = "score")
  }

  /** Recall@k of an approximate top-k against the exact one — the
    * evaluation loop every ANN deployment runs before trading accuracy
    * for speed (how much recall does IVF probing / PQ / SQ8 give up?).
    * Both frames are per-query top-k outputs `(q_id, idCol, ...)`;
    * recall@k for a query = |approx ∩ exact| / k. Queries the exact
    * frame ranked but the approx frame missed entirely still appear
    * (recall 0). Integer intersection counts over k-bounded lists —
    * exact by construction, no floating-point concerns beyond the
    * final ratio.
    *
    * Shape at 100 TB: the inputs are already k-bounded per query (the
    * heap outputs of [[cosineTopK]] / [[ivfTopK]] / [[sq8AdcTopK]] /
    * [[pqAdcTopK]]), so this is a join between two |queries|·k frames —
    * the corpus-scale work happened upstream; the evaluation itself is
    * always small. */
  def recallAtK(exact: DataFrame, approx: DataFrame, idCol: String,
                k: Int): DataFrame = {
    require(k >= 1, s"recallAtK: k must be positive: $k")
    val e = exact.select(col("q_id"), col(idCol).as("__id"))
    val a = approx.select(col("q_id"), col(idCol).as("__id"))
    val hits = e.join(a, Seq("q_id", "__id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    e.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall"))
  }

  /** Margin-based cross-corpus pair mining — the bitext-mining
    * criterion (Artetxe & Schwenk 2019 "ratio" margin, the CCMatrix /
    * LASER alignment recipe): a candidate pair (a, b) scores
    * `margin = cos(a,b) / ((avgK(a) + avgK(b)) / 2)` where `avgK(x)` is
    * the mean cosine of x's k nearest candidates on the other side —
    * raw cosine normalized by how "hubby" each endpoint is, so dense
    * regions don't flood the mined set. Kept pairs are MUTUAL best
    * matches (forward argmax for a AND backward argmax for b, margin
    * ties broken by id) at `margin >= tau`.
    *
    * This exact form scores every |A|×|B| pair map-side (the `b` side
    * broadcasts — the [[cosineTopK]] shape, right when one side is a
    * bounded query/benchmark set; a `b` over `maxBRows` fails fast —
    * one count job — naming [[marginMineBucketed]], the corpus×corpus
    * scale path, instead of OOMing the broadcast). Ids must
    * be unique across BOTH sides (the store discipline) — the mined pair
    * frame keys on them. Under violation both paths now agree: pairs
    * whose two sides carry the SAME id are excluded here exactly as the
    * bucketed path's candidate join excludes them.
    *
    * Determinism contract (the q135 ordered-mean discipline): each
    * avgK is a strict left fold over the top-k cosines in
    * (cos asc, id asc) order, so sums — and therefore every margin —
    * are bit-identical across runs and engines; the remaining algebra
    * is single IEEE ops on those folds. */
  def marginMine(a: DataFrame, b: DataFrame, idCol: String, embCol: String,
                 k: Int, tau: Double,
                 maxBRows: Long = MaxMarginBroadcastRows): DataFrame = {
    require(k >= 1, s"marginMine: k must be positive: $k")
    graft.functions.GraftFunctions.ensureRegistered(a.sparkSession)
    // the bounded-b contract, ENFORCED (the semanticOverlap budget
    // precedent): the b side broadcasts whole to every executor, so a
    // corpus-sized b OOMs the driver/executors instead of running slow —
    // fail fast with the scale path's name before any work ships
    val nB = b.count()
    if (nB > maxBRows) throw new IllegalArgumentException(
      s"marginMine: b side has $nB rows, over the $maxBRows broadcast " +
        "budget. This exact form scores every |a|x|b| pair against a " +
        "broadcast b — it is for bounded query/batch sets. For " +
        "corpus x corpus mining use marginMineBucketed (LSH candidates, " +
        "no broadcast), or pass a deliberately larger maxBRows")
    val qa = a.select(col(idCol).as("a_id"), col(embCol).as("__ea"))
    val qb = b.select(col(idCol).as("b_id"), col(embCol).as("__eb"))
    val scored = qa.crossJoin(broadcast(qb))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        Vectors.cosine(col("__ea"), col("__eb")).as("cos"))
    mineFromScored(scored, k, tau)
  }

  /** [[marginMine]]'s b-side broadcast budget: 2²¹ rows (the
    * [[Decontam.MaxBenchValues]] sizing — a bounded batch/benchmark
    * side, far under any corpus). Over budget the call fails fast
    * naming [[marginMineBucketed]]. */
  val MaxMarginBroadcastRows: Long = 1L << 21

  /** [[marginMine]] over sign-LSH candidates instead of all pairs — the
    * corpus×corpus scale path (neither side broadcasts): both sides'
    * signatures shuffle once on the (table, bucket) key, only
    * cross-corpus pairs sharing a bucket are scored, and the margin
    * algebra runs over that candidate set (per-endpoint k-NN means are
    * therefore means over CANDIDATE neighbors — the approximation;
    * recall grows with `tables` exactly as in [[knnGraph]]). When every
    * pair collides (single-bucket geometry) the output is identical to
    * [[marginMine]] — MarginMineSpec pins the differential. */
  def marginMineBucketed(a: DataFrame, b: DataFrame, idCol: String,
                         embCol: String, k: Int, tau: Double,
                         bits: Int = AutoBits, tables: Int = 2): DataFrame = {
    require(k >= 1, s"marginMineBucketed: k must be positive: $k")
    graft.functions.GraftFunctions.ensureRegistered(a.sparkSession)
    val union = a.select(col(idCol), col(embCol))
      .unionByName(b.select(col(idCol), col(embCol)))
    val bts = resolveGeometry(union, idCol, embCol, bits, tables)
    val cand = bucketJoin(lshSigs(a, idCol, embCol, bts, tables),
        lshSigs(b, idCol, embCol, bts, tables))
      .select(col("q_id").as("a_id"), col("__dst").as("b_id"))
    val scored = cand
      .join(a.select(col(idCol).as("a_id"), col(embCol).as("__ea")), Seq("a_id"))
      .join(b.select(col(idCol).as("b_id"), col(embCol).as("__eb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        Vectors.cosine(col("__ea"), col("__eb")).as("cos"))
    mineFromScored(scored, k, tau)
  }

  /** Shared margin algebra over a scored (a_id, b_id, cos) pair frame.
    * Every stage past the input is k-bounded: heap top-k per endpoint
    * (map-side-combined) and means over ≤k-element arrays. The two
    * argmax windows run over the topA ∪ topB union, so a hub endpoint's
    * partition holds up to k + |other side| rows (its own top-k plus
    * every opposite-side list it appears in) — bounded by the candidate
    * frame, and a window over a hub partition is still one linear
    * scan. */
  private def mineFromScored(scored: DataFrame, k: Int, tau: Double): DataFrame = {
    val topA = keepTopK(
        scored.select(col("a_id").as("q_id"), col("b_id"), col("cos")), "b_id", k)
      .select(col("q_id").as("a_id"), col("b_id"), col("cos"))
    val topB = keepTopK(
        scored.select(col("b_id").as("q_id"), col("a_id"), col("cos")), "a_id", k)
      .select(col("a_id"), col("q_id").as("b_id"), col("cos"))
    // strict left fold in (cos asc, id asc) order — bit-identical to the
    // oracle's list(cos ORDER BY cos, id) + list_aggregate 'sum'
    def knnMean(top: DataFrame, key: String, other: String, out: String) =
      top.groupBy(col(key))
        .agg(sort_array(collect_list(struct(col("cos"), col(other).as("__id"))))
          .as("__l"))
        .select(col(key),
          (aggregate(col("__l"), lit(0.0d), (acc, x) => acc + x("cos")) /
            size(col("__l")).cast("double")).as(out))
    val avgA = knnMean(topA, "a_id", "b_id", "__avg_a")
    val avgB = knnMean(topB, "b_id", "a_id", "__avg_b")
    // margins are defined over the UNION of both directions' top-k
    // candidates, so forward and backward argmax see the same value for
    // a shared pair; cos is deterministic, so the distinct is exact
    val cand = topA.unionByName(topB).distinct()
    val m = cand.join(avgA, Seq("a_id")).join(avgB, Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (col("cos") / ((col("__avg_a") + col("__avg_b")) / lit(2.0d)))
          .as("margin"))
    val fwd = Window.partitionBy(col("a_id"))
      .orderBy(col("margin").desc, col("b_id").asc)
    val bwd = Window.partitionBy(col("b_id"))
      .orderBy(col("margin").desc, col("a_id").asc)
    m.withColumn("__rf", row_number().over(fwd))
      .withColumn("__rb", row_number().over(bwd))
      .filter(col("__rf") === 1 && col("__rb") === 1 && col("margin") >= tau)
      .select(col("a_id"), col("b_id"), col("margin"))
  }

  /** Sign-LSH bucketed near-dup pairs: one shuffle on the bucket key,
    * per-bucket pairing, cosine cut at `minCos`. Approximate — recall
    * loss only across bucket boundaries.
    *
    * Skew guard (the [[graft.operators.Dedup.nearDupCandidates]]
    * machinery): sign-LSH buckets are NOT size-bounded — an embedding
    * cluster of near-identical boilerplate lands millions of vectors in
    * one bucket, and in-bucket pairing there is O(b²) in a single task.
    * Buckets over `maxBucket` therefore skip pair materialization and
    * emit a STAR over the bucket's minimum id (O(b) rows, cosine scored
    * against that minimum): the bucket still resolves to one near-dup
    * component, while pairs between two non-min members of an over-cap
    * bucket are only found via other paths (documented recall bound —
    * in the template case that triggers this, the bucket's vectors are
    * near-identical and the star scores pass the cut). Within-cap
    * buckets are expanded exhaustively, and bucket sizing runs as
    * spillable window aggregates, so no task ever materializes an
    * unbounded pair list or aggregation buffer.
    *
    * `bits` defaults to [[AutoBits]] — ⌈log₂(n / 64)⌉ sized from the
    * corpus (single-table geometry, so the clamp is the full embedding
    * dimension); pass [[SkewAwareBits]] to size by measurement when the
    * family is skewed and the buckets stay RAW — a centered `center`
    * removes the skew, so formula bits suffice (the
    * [[DocEmbed.pruneNearDups]] round-13 default).
    * Fixture-sized literals here are the exact recall cliff
    * the AutoBits discipline exists to remove: 8 fixed bits = 256
    * buckets, and at 100× the fixture every bucket is over `maxBucket`,
    * silently degrading the whole corpus to star-approximation recall.
    * Pass explicit bits only for fixed-geometry parity pins (q32/q150
    * stay explicit). */
  def lshNearDup(corpus: DataFrame, idCol: String, embCol: String,
                 bits: Int = AutoBits, minCos: Double = 0.3,
                 maxBucket: Int = 1024,
                 center: Seq[Double] = Nil): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    require(bits >= 1 || bits == AutoBits || bits == SkewAwareBits,
      s"lshNearDup: bits >= 1: $bits")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val rbits = resolveGeometry(corpus, idCol, embCol, bits, tables = 1,
      center = center)
    val a = s"${idCol}_a"
    val b = s"${idCol}_b"
    val w = Window.partitionBy(col("__bucket"))
    val bucketExpr =
      if (center.isEmpty) Vectors.signBucket(col(embCol), rbits)
      else Vectors.signBucketCenteredAt(col(embCol), rbits, 0, center)
    val sized = corpus.select(col(idCol), col(embCol),
        bucketExpr.as("__bucket"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__mn", min(struct(col(idCol), col(embCol))).over(w))
    val star = sized
      .filter(col("__n") > maxBucket && col(idCol) =!= col("__mn").getField(idCol))
      .select(col("__mn").getField(idCol).as(a), col(idCol).as(b),
        Vectors.cosine(col("__mn").getField(embCol), col(embCol)).as("cos"))
    // In-bucket pairs via a bucket-keyed self-join (id_a < id_b) instead
    // of collect_list + nested-HOF explosion: the pair set is identical
    // (all unordered member pairs ordered by id), but pair generation
    // runs inside whole-stage codegen instead of interpreted
    // higher-order functions that materialize every pair's BOTH
    // embeddings as fresh structs (measured: 20 s of single-digit-task
    // CPU on the q206 scoring stage, >2× the whole query — guide §1.2).
    // Both join children are the same subplan partitioned the same way,
    // so ReuseExchange computes the corpus shuffle once; norms are
    // hoisted per ROW (n sqrt·dot, not |pairs|) — cos is the identical
    // IEEE tree, just with `sqrt(dot(x,x))` evaluated once per member.
    val small = sized
      .filter(col("__n") <= maxBucket && col("__n") > 1)
      .select(col("__bucket"), col(idCol), col(embCol),
        Vectors.norm(col(embCol)).as("__nrm"))
    val smallPairs = small
      .select(col("__bucket"), col(idCol).as(a), col(embCol).as("__ea"),
        col("__nrm").as("__na"))
      .join(small.select(col("__bucket"), col(idCol).as(b),
        col(embCol).as("__eb"), col("__nrm").as("__nb")), Seq("__bucket"))
      .filter(col(a) < col(b))
      .select(col(a), col(b),
        (Vectors.dot(col("__ea"), col("__eb")) /
          (col("__na") * col("__nb"))).as("cos"))
    smallPairs.union(star).filter(col("cos") >= minCos)
  }

  /** Deterministic Lloyd's k-means over an embedding column — trains the
    * centroid set the IVF path probes. Initialization is the first k
    * vectors by id (reproducible across runs/engines, unlike random or
    * kmeans++ seeds). Each iteration is one narrow assignment pass (the
    * same [[withNearest]] argmax the IVF search uses — no corpus shuffle)
    * + one shuffle (element-wise mean per cluster, `graft_vec_mean`).
    *
    * The centroid set is k × dim — bounded driver state by construction —
    * so it is collected to the driver between iterations and re-broadcast
    * as a fresh literal frame. This keeps every iteration's plan flat
    * (iteration i never replays iterations 1..i-1) and the returned frame
    * is a LocalRelation, independent of `iterations`. A cluster that
    * loses all members keeps its previous centroid (no silent k-shrink).
    */
  def kmeans(corpus: DataFrame, idCol: String, embCol: String,
             k: Int, iterations: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val spark = corpus.sparkSession
    import spark.implicits._
    def toDf(cs: Array[(Int, Seq[Double])]): DataFrame =
      cs.toSeq.toDF("__c_id", "__c_emb")
    // Init: first k vectors by id. collect() of a sorted+limited plan
    // preserves order, so ids 0..k-1 are assigned by ascending idCol.
    var centroids: Array[(Int, Seq[Double])] =
      corpus.orderBy(col(idCol)).limit(k)
        .select(col(embCol).cast("array<double>"))
        .collect()
        .zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](0)) }
    (1 to iterations).foreach { _ =>
      // assignment is the same NARROW argmax the IVF path serves
      // ([[withNearest]]): no join, no shuffle, no window — the corpus
      // never shuffles for assignment. nanWins=false so a zero-norm
      // centroid (NaN cosine everywhere) attracts nothing — the old
      // join+window form's `(1-cos) ASC` NaN-last behavior — and
      // zero-norm rows keep the -1 sentinel, excluded from every mean.
      val centDf = toDf(centroids).select(col("__c_id"), col("__c_emb").as(embCol))
      val assigned = withNearest(corpus.select(col(idCol), col(embCol)),
        centDf, embCol, "__c_id", nanWins = false)
      // new centroid = element-wise mean of member vectors via the native
      // graft_vec_mean aggregate: the iteration's ONE shuffle, carrying
      // O(k × partitions) dim-length buffers (partial agg folds members
      // map-side), not the posexplode form's n × dim exploded rows. The
      // k-row result is the bounded-state collect.
      val means: Map[Int, Seq[Double]] = assigned
        .groupBy(col("__list"))
        .agg(graft.functions.VecMeanAgg.vecMean(col(embCol)).as("__c_emb"))
        .filter(col("__c_emb").isNotNull)
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1))
        .toMap
      centroids = centroids.map { case (id, old) => (id, means.getOrElse(id, old)) }
    }
    toDf(centroids).select(col("__c_id").as("centroid_id"), col("__c_emb").as(embCol))
  }

  /** Driver-collected centroid matrix, ascending id — k × dim doubles,
    * bounded state by construction (the same exception to no-collect that
    * kmeans uses). */
  private def collectCentroids(centroids: DataFrame, centroidIdCol: String,
                               embCol: String): Array[(Int, Array[Double])] = {
    val cents = centroids
      .select(col(centroidIdCol).cast("int"), col(embCol).cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "IVF needs at least one centroid")
    cents
  }

  /** "cs beats the current best". `nanWins = true`: NaN first, then higher
    * cosine — exactly the rank-1 row of `ORDER BY cos DESC, c_id` under
    * Spark's NaN-greatest sort order (the q33/ivfAssign contract).
    * `nanWins = false`: NaN never wins — a zero-norm centroid (NaN cosine
    * against every row) attracts nothing instead of capturing the whole
    * corpus; rows whose cosine is NaN against every centroid keep the
    * sentinel (-1) and drop out of downstream means. Ties break toward
    * the smaller centroid id either way (ascending iteration, strict
    * comparison). */
  private def betterThan(cs: Column, best: Column, nanWins: Boolean): Column =
    if (nanWins) (isnan(cs) && !isnan(best)) || cs > best
    else !isnan(cs) && cs > best

  /** Beyond this many doubles the centroid matrix travels as a broadcast
    * variable, not a plan literal (a multi-MB literal bloats every
    * serialized task and chokes codegen). */
  private[operators] val LiteralCentroidDoubles: Int = 1 << 20

  /** Appends (__list, __cos) = nearest-centroid id and cosine to every
    * corpus row. Both paths are NARROW — no join, no shuffle, no window:
    * small centroid sets ride the expression tree as a literal and fold
    * inside codegen; large ones broadcast to a per-partition loop with
    * precomputed centroid norms (the same mapPartitions seam as the
    * multimodal codec — the one construct Catalyst can't express). */
  private[operators] def withNearest(corpus: DataFrame, centroids: DataFrame,
      embCol: String, centroidIdCol: String,
      literalLimit: Int = LiteralCentroidDoubles,
      nanWins: Boolean = true): DataFrame = {
    val cents = collectCentroids(centroids, centroidIdCol, embCol)
    val dims = cents.head._2.length
    if (cents.length.toLong * dims <= literalLimit) {
      val centsLit = typedlit(cents.toSeq.map { case (i, e) => (i, e.toSeq) })
      val best = aggregate(centsLit,
        struct(lit(-1).as("id"), lit(-2.0).as("cos")),
        (acc, c) => {
          val cs = Vectors.cosine(col(embCol), c.getField("_2"))
          when(betterThan(cs, acc.getField("cos"), nanWins),
            struct(c.getField("_1").as("id"), cs.as("cos"))).otherwise(acc)
        })
      corpus.withColumn("__best", best)
        .withColumn("__list", col("__best.id"))
        .withColumn("__cos", col("__best.cos"))
        .drop("__best")
    } else {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      val withNorms = cents.map { case (i, e) =>
        (i, e, math.sqrt(e.map(x => x * x).sum))
      }
      val bc = corpus.sparkSession.sparkContext.broadcast(withNorms)
      val out = corpus.schema.add("__list", IntegerType).add("__cos", DoubleType)
      val embIdx = corpus.schema.fieldIndex(embCol)
      corpus.mapPartitions { rows =>
        val cs = bc.value
        rows.map { r =>
          // null embedding: same sentinel the literal fold leaves (its
          // null cosine never beats the accumulator)
          if (r.isNullAt(embIdx)) Row.fromSeq(r.toSeq ++ Seq[Any](-1, -2.0))
          else {
            val raw = r.getSeq[Number](embIdx)
            val emb = new Array[Double](raw.length)
            var i = 0
            raw.foreach { v => emb(i) = if (v == null) 0.0 else v.doubleValue(); i += 1 }
            var eNorm = 0.0
            var j = 0
            while (j < emb.length) { eNorm += emb(j) * emb(j); j += 1 }
            eNorm = math.sqrt(eNorm)
            var bestId = -1
            var bestCos = -2.0
            cs.foreach { case (cid, ce, cNorm) =>
              val n = math.min(emb.length, ce.length)
              var dot = 0.0
              var k = 0
              while (k < n) { dot += emb(k) * ce(k); k += 1 }
              val denom = eNorm * cNorm
              // denom == 0 -> SQL division yields NULL in the literal
              // fold, which never wins; mirror that, not JVM 0/0 = NaN
              if (denom != 0.0) {
                val cos = dot / denom
                val better =
                  if (nanWins) (cos.isNaN && !bestCos.isNaN) || cos > bestCos
                  else !cos.isNaN && cos > bestCos
                if (better) { bestId = cid; bestCos = cos }
              }
            }
            Row.fromSeq(r.toSeq ++ Seq[Any](bestId, bestCos))
          }
        }
      }(Encoders.row(out))
    }
  }

  /** IVF coarse quantization: assign every vector to its nearest centroid
    * — a completely narrow pass (no join, no shuffle, no window; the
    * executed plan has zero exchanges, DedupSimilaritySpec pins it).
    * Searches then probe only matching inverted lists. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
                embCol: String, centroidIdCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    withNearest(corpus.select(col(idCol), col(embCol)), centroids, embCol, centroidIdCol)
      .select(col(idCol), col("__list").as("centroid"), col("__cos").as("cos"))
  }

  /** [[ivfAssign]] keeping EVERY input column (`centroid` / `cos`
    * appended): the streaming-safe assignment form — the composed
    * ivfAssign + join-back-on-id shape would be a stream-stream join on
    * a stream, while this stays the same narrow zero-exchange fold. */
  def ivfAssignAll(corpus: DataFrame, centroids: DataFrame,
                   embCol: String, centroidIdCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    withNearest(corpus, centroids, embCol, centroidIdCol)
      .withColumnRenamed("__list", "centroid")
      .withColumnRenamed("__cos", "cos")
  }

  /** IVF top-k ANN search: each query probes only its `nProbe` nearest
    * inverted lists.
    *
    * Corpus-side work is map-side only: the assignment fold (no shuffle,
    * see [[ivfAssign]]) plus a broadcast hash join against the probe set
    * — the corpus never shuffles. The probe set is |queries| × nProbe
    * rows (queries are small by contract, like [[cosineTopK]]'s
    * broadcast). The one real shuffle is the final per-query top-k,
    * which the k-bounded heap aggregate trims to ≤ k entries per query
    * map-side before it moves.
    *
    * Exact within probed lists; recall is lost only when a true
    * neighbor's list is unprobed. With nProbe = |centroids| this is
    * exactly [[cosineTopK]] (the spec pins that identity). */
  def ivfTopK(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, centroidIdCol: String,
              k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val assigned = withNearest(corpus.select(col(idCol), col(embCol)),
      centroids, embCol, centroidIdCol).drop("__cos")
    val probes = probeSet(queries, centroids, idCol, embCol, centroidIdCol, nProbe)
    val scored = broadcast(probes).join(assigned, Seq("__list"))
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol),
        Vectors.cosine(col("__q_emb"), col(embCol)).as("cos"))
    keepTopK(scored, idCol, k)
  }

  /** The coarse probe every IVF variant shares: (q_id, __q_emb, __list)
    * — each query's `nProbe` nearest inverted lists by centroid cosine
    * (ties to the smaller list id). |queries| × |centroids| work over a
    * broadcast centroid table, output |queries| × nProbe rows. */
  private def probeSet(queries: DataFrame, centroids: DataFrame,
                       idCol: String, embCol: String, centroidIdCol: String,
                       nProbe: Int): DataFrame = {
    val c = centroids.select(col(centroidIdCol).as("__list"), col(embCol).as("__c_emb"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("__q_cos").desc, col("__list").asc)
    queries
      .select(col(idCol).as("q_id"), col(embCol).as("__q_emb"))
      .join(broadcast(c))
      .select(col("q_id"), col("__q_emb"), col("__list"),
        Vectors.cosine(col("__q_emb"), col("__c_emb")).as("__q_cos"))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nProbe)
      .select(col("q_id"), col("__q_emb"), col("__list"))
  }

  /** IVF-routed SQ8 search — [[ivfTopK]]'s coarse probe composed with
    * [[sq8AdcTopK]]'s int8 ADC ranking, completing the routing ×
    * compression matrix (IVF×raw = [[ivfTopK]], IVF×PQ = [[ivfPqTopK]]):
    * each query ranks only its `nProbe` lists' members, by
    * `m/127 · Σ q8·q` over int8 codes — a quarter of the corpus bytes,
    * never reconstructing a vector.
    *
    * Scale posture: corpus-side work is two narrow passes (assignment
    * fold + encode) with zero corpus shuffles; the probe set broadcasts;
    * the one real shuffle is the final per-query top-k, trimmed to ≤ k
    * map-side by the heap aggregate. Recall loss = unprobed lists +
    * quantization — the standard IVF-SQ trade. */
  def ivfSq8TopK(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
                 idCol: String, embCol: String, centroidIdCol: String,
                 k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val assigned = withNearest(corpus.select(col(idCol), col(embCol)),
      centroids, embCol, centroidIdCol).drop("__cos")
    val enc = sq8EncodeAll(assigned, embCol)
      .select(col(idCol), col("__list"), col("m"), col("q8"))
    val probes = probeSet(queries, centroids, idCol, embCol, centroidIdCol, nProbe)
    val scored = broadcast(probes).join(enc, Seq("__list"))
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol),
        ((col("m") / 127.0) * Vectors.dot(col("q8").cast("array<double>"),
          col("__q_emb"))).as("score"))
    keepTopK(scored, idCol, k, scoreCol = "score")
  }

  /** The complete IVF-PQ index search — [[ivfTopK]]'s coarse probe
    * composed with [[pqAdcTopK]]'s quantized ranking: each query probes
    * its `nProbe` nearest inverted lists and ranks ONLY those lists'
    * members, by ADC distance over PQ codes instead of full-dimension
    * dots. This is the standard billion-scale ANN index (IVF-PQ) in one
    * operator; [[pqTrain]] + [[kmeans]] supply both codebooks.
    *
    * Scale posture: corpus-side work is two narrow kernel passes (the
    * assignment fold + `graft_pq_codes`) — after encode the scan carries
    * m one-byte-ish codes per row, never the embeddings; the probe set
    * (queries × nProbe rows with their m×k lookup tables) broadcasts;
    * the only real shuffle is the final per-query top-k, trimmed to k
    * map-side by the heap aggregate. Recall loss = unprobed lists +
    * quantization, exactly the IVF-PQ contract. Output (q_id, `idCol`,
    * adc) ascending ≈ nearest, 6-dp rounded like [[pqAdcTopK]]. */
  def ivfPqTopK(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                queries: DataFrame, idCol: String, embCol: String,
                centroidIdCol: String, k: Int, nProbe: Int,
                subspaceCol: String = "subspace", codeCol: String = "code",
                vecCol: String = "vector"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val cb = collectCodebooks(codebooks, subspaceCol, codeCol, vecCol)
    val assigned = withNearest(corpus.select(col(idCol), col(embCol)),
      centroids, embCol, centroidIdCol).drop("__cos")
    val coded = pqEncode(assigned, codebooks, embCol, subspaceCol, codeCol, vecCol)
      .select(col(idCol), col("__list"), col("pq_codes"))
      .filter(col("pq_codes").isNotNull)
    val c = centroids.select(col(centroidIdCol).as("__list"), col(embCol).as("__c_emb"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("__q_cos").desc, col("__list").asc)
    var q = withPqStages(
      queries.select(col(idCol).as("q_id"), col(embCol).as("__q_emb")),
      "__q_emb", cb)
    cb.zipWithIndex.foreach { case (entries, s) =>
      val cbLit = typedlit(entries.toSeq.map { case (cd, v, n) => (cd, v.toSeq, n) })
      q = q.withColumn(s"__tab_$s", transform(cbLit, e => pqDist(s, e)))
    }
    val qTabs = q
      .withColumn("__tabs", array(cb.indices.map(s => col(s"__tab_$s")): _*))
      .select(col("q_id"), col("__q_emb"), col("__tabs"))
    val probes = qTabs
      .join(broadcast(c))
      .select(col("q_id"), col("__tabs"), col("__list"),
        Vectors.cosine(col("__q_emb"), col("__c_emb")).as("__q_cos"))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nProbe)
      .select(col("q_id"), col("__tabs"), col("__list"))
    val scored = broadcast(probes).join(coded, Seq("__list"))
      .filter(col("q_id") =!= col(idCol))
      .withColumn("cos", -aggregate(
        zip_with(col("pq_codes"), col("__tabs"), (cd, t) => element_at(t, cd + 1)),
        lit(0.0), (a, x) => a + x))
      .select(col("q_id"), col(idCol), col("cos"))
      .filter(col("cos").isNotNull)
    keepTopK(scored, idCol, k)
      .select(col("q_id"), col(idCol), round(-col("cos"), 6).as("adc"))
  }

  /** Project-then-re-rank ANN: score candidates in the
    * [[graft.functions.RandProj]] reduced space (a `reducedDim`-wide dot
    * instead of full width — the Johnson-Lindenstrauss trade), keep
    * `candidates` per query, then re-rank ONLY those at full width and
    * return the true-cosine top `k`. The standard two-stage ANN shape:
    * the expensive full-width arithmetic touches candidates × queries
    * rows, never corpus × queries; recall loss is confined to true
    * neighbors the projected space mis-ranks out of the candidate set
    * (JL bounds make that rare at sane `candidates/k` ratios).
    *
    * Corpus-side work stays narrow: one projection kernel call per row,
    * the broadcast-queries nested loop, and the k-bounded heap — the
    * [[cosineTopK]] posture at a fraction of the per-pair cost. */
  def projectedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, dim: Int, reducedDim: Int,
                    k: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidate pool $candidates must cover k=$k")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    def proj(df: DataFrame) = df.select(col(idCol),
      graft.functions.RandProj.randProj(col(embCol), dim, reducedDim).as("__p"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("__q_emb"))
    val qp = proj(queries).select(col(idCol).as("q_id"), col("__p").as("__q_p"))
    // stage 1: reduced-width scan — the only corpus-sized work
    val cand = keepTopK(
      broadcast(qp).join(proj(corpus), col("q_id") =!= col(idCol))
        .select(col("q_id"), col(idCol),
          Vectors.cosine(col("__q_p"), col("__p")).as("cos")),
      idCol, candidates)
      .select(col("q_id"), col(idCol))
    // stage 2: the candidate list (queries x candidates rows) broadcasts
    // back onto the corpus for full-width re-ranking — the corpus is
    // probed by a broadcast hash join, never shuffled
    val reranked = broadcast(cand)
      .join(corpus.select(col(idCol), col(embCol)), Seq(idCol))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col(idCol),
        Vectors.cosine(col("__q_emb"), col(embCol)).as("cos"))
    keepTopK(reranked, idCol, k)
  }

  /** Collected per-subspace codebooks: for each subspace (in order), the
    * (code, sub-vector, ||sub-vector||²) entries sorted by code. Codes
    * must be dense 0..k-1 per subspace (standard PQ — ADC lookup tables
    * index by code). Bounded driver state, like the k-means centroids. */
  private def collectCodebooks(codebooks: DataFrame, subspaceCol: String,
      codeCol: String, vecCol: String): IndexedSeq[Array[(Int, Array[Double], Double)]] = {
    val rows = codebooks
      .select(col(subspaceCol).cast("int"), col(codeCol).cast("int"),
        col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "PQ needs a non-empty codebook")
    val m = rows.map(_._1).max + 1
    (0 until m).map { s =>
      val entries = rows.filter(_._1 == s).sortBy(_._2)
      require(entries.map(_._2).toSeq == (0 until entries.length),
        s"PQ subspace $s: codes must be dense 0..k-1, got ${entries.map(_._2).toSeq}")
      require(entries.map(_._3.length).distinct.length == 1,
        s"PQ subspace $s: sub-vector lengths differ")
      entries.map { case (_, c, v) =>
        // left-to-right sum, matching the sequential dot-product fold the
        // distance expansion pairs it with (bit-stable vs the oracle)
        var n = 0.0
        var i = 0
        while (i < v.length) { n += v(i) * v(i); i += 1 }
        (c, v, n)
      }
    }
  }

  /** Per-subspace staging: appends `__sub_s` (the contiguous sub-vector)
    * and `__ss_s` (its self-dot) for each subspace — separate projections
    * on purpose (CollapseProject keeps non-cheap aliases staged), so the
    * slice and self-dot are computed once, not once per codebook entry. */
  private def withPqStages(df: DataFrame, embCol: String,
      cb: IndexedSeq[Array[(Int, Array[Double], Double)]]): DataFrame = {
    val offsets = cb.scanLeft(0)((acc, e) => acc + e.head._2.length)
    var out = df
    cb.indices.foreach { s =>
      out = out.withColumn(s"__sub_$s",
        slice(col(embCol).cast("array<double>"), offsets(s) + 1, cb(s).head._2.length))
    }
    cb.indices.foreach { s =>
      out = out.withColumn(s"__ss_$s", Vectors.dot(col(s"__sub_$s"), col(s"__sub_$s")))
    }
    out
  }

  /** Squared-L2 distance of the staged subspace `s` sub-vector to one
    * codebook entry, via the expansion ||a||² − 2a·b + ||b||² — three
    * sequential folds, so the oracle can reproduce the exact bits. */
  private def pqDist(s: Int, e: Column): Column =
    col(s"__ss_$s") - lit(2.0) * Vectors.dot(col(s"__sub_$s"), e.getField("_2")) +
      e.getField("_3")

  /** Trains per-subspace PQ codebooks — the half of IVF-PQ that q73/q74
    * previously required as input, closing the loop end-to-end: split
    * `embCol` into `m` contiguous subspaces and run the deterministic
    * [[kmeans]] (first-k-by-id init, cosine assignment, element-wise
    * mean, empty clusters keep their centroid) on each slice. Returns
    * (subspace, code, vector) with dense codes 0..k-1 per subspace —
    * exactly the frame [[pqEncode]]/[[pqAdcTopK]] consume.
    *
    * Scale: m small trainings, each inheriting kmeans's posture (narrow
    * assignment, one O(k x partitions) mean shuffle per iteration,
    * centroids as bounded driver state) — the corpus is scanned per
    * iteration but never shuffled, and the result is m x k x (dim/m)
    * doubles, i.e. dim-bounded like a single centroid set. */
  def pqTrain(corpus: DataFrame, idCol: String, embCol: String,
              m: Int, k: Int, iterations: Int): DataFrame = {
    require(m >= 1, s"subspace count must be positive: $m")
    // dim from an aggregate over the WHOLE corpus, not head(): an empty
    // corpus gets a clear error instead of NoSuchElementException, and a
    // ragged corpus (mixed embedding lengths) fails fast instead of
    // passing the dim % m check on row 1 and mis-slicing every other row
    val mm = corpus.agg(
      min(size(col(embCol))).as("mn"), max(size(col(embCol))).as("mx")).head
    require(!mm.isNullAt(0), s"pqTrain: empty corpus — no '$embCol' to train on")
    val (dimMin, dimMax) = (mm.getInt(0), mm.getInt(1))
    require(dimMin == dimMax,
      s"pqTrain: ragged embedding lengths in '$embCol' ($dimMin..$dimMax) — " +
        "uniform dimension is required for subspace slicing")
    val dim = dimMax
    require(dim % m == 0, s"embedding dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    (0 until m).map { s =>
      val sliced = corpus.select(col(idCol),
        slice(col(embCol), s * sub + 1, sub).as(embCol))
      kmeans(sliced, idCol, embCol, k, iterations)
        .select(lit(s).as("subspace"), col("centroid_id").cast("int").as("code"),
          col(embCol).as("vector"))
    }.reduce(_ unionByName _)
  }

  /** Product-quantization encode: splits `embCol` into the codebooks'
    * contiguous subspaces and appends `pq_codes` — per subspace, the code
    * of the nearest (squared-L2) codebook entry, ties to the smaller
    * code. An embedding that cannot be coded (null, or a NaN element
    * poisoning a subspace's distances) gets `pq_codes = null` — the
    * library's log-and-null convention — so every emitted code array
    * honors the dense 0..k-1 contract ADC lookups index by. The 100 TB
    * shape: the codebook is bounded driver state (like the k-means
    * centroids), the argmin is one codegen'd kernel call per row
    * (graft_pq_codes), and the corpus never shuffles — PQ codes for a
    * petabyte corpus are a narrow map over the scan. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, embCol: String,
               subspaceCol: String = "subspace", codeCol: String = "code",
               vecCol: String = "vector"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val cb = collectCodebooks(codebooks, subspaceCol, codeCol, vecCol)
    // all m argmins in ONE native kernel call per row (graft_pq_codes);
    // the codebook rides the plan as a single literal and ships to
    // generated code as a reference object. The composable literal-fold
    // twin below ([[pqEncodeFold]]) is the spec this kernel is
    // differentially pinned against — TimeQ measured the fold at
    // ~77 us/row on sf0.1 (interpreted HOF tree per codebook entry),
    // kernel replaces that with primitive loops.
    val cbLit = typedlit(cb.zipWithIndex.flatMap { case (entries, s) =>
      entries.map { case (c, v, n) => (s, c, v.toSeq, n) }
    }.toSeq)
    corpus.withColumn("pq_codes",
      call_function(graft.functions.PqCodesExpr.name, col(embCol), cbLit))
  }

  /** Composable literal-fold form of [[pqEncode]] — the differential
    * witness (aggregate over the codebook literal with VecDot folds,
    * exactly the arithmetic the kernel runs), kept private to the spec. */
  private[operators] def pqEncodeFold(corpus: DataFrame, codebooks: DataFrame,
      embCol: String, subspaceCol: String = "subspace",
      codeCol: String = "code", vecCol: String = "vector"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val cb = collectCodebooks(codebooks, subspaceCol, codeCol, vecCol)
    var df = withPqStages(corpus, embCol, cb)
    cb.zipWithIndex.foreach { case (entries, s) =>
      val cbLit = typedlit(entries.toSeq.map { case (c, v, n) => (c, v.toSeq, n) })
      val best = aggregate(cbLit,
        struct(lit(-1).as("code"), lit(Double.MaxValue).as("d")),
        (acc, e) => {
          val d = pqDist(s, e)
          when(d < acc.getField("d"),
            struct(e.getField("_1").as("code"), d.as("d"))).otherwise(acc)
        })
      df = df.withColumn(s"__code_$s", best.getField("code"))
    }
    val tmp = cb.indices.flatMap(s => Seq(s"__sub_$s", s"__ss_$s", s"__code_$s"))
    val codes = array(cb.indices.map(s => col(s"__code_$s")): _*)
    // any unreachable subspace (null embedding, NaN distances) leaves the
    // -1 fold sentinel -> null the whole code array instead of leaking it
    df.withColumn("pq_codes",
        when(array_contains(codes, lit(-1)) || codes.isNull,
          lit(null).cast("array<int>")).otherwise(codes))
      .drop(tmp: _*)
  }

  /** Approximate top-k neighbors by asymmetric distance computation over
    * PQ codes: each query precomputes its m×k distance-lookup tables
    * (driver-bounded, rides the broadcast), each corpus row's approximate
    * distance is m table lookups summed — never a full-dimension dot per
    * pair — and the final top-k is the k-bounded heap aggregate. Corpus
    * rows carry only their codes past the encode stage: at 100 TB the
    * shuffle carries queries×k rows and the scan reads codes, not
    * embeddings. Output: (q_id, `idCol`, adc) — adc ascending ≈ nearest,
    * rounded to 6 places (the sum over subspaces is the one
    * order-sensitive float reduction between engines).
    *
    * Query-count budget: this is the FULL-SCAN form — every query's
    * lookup tables visit every corpus code, so cost is corpus × queries
    * and the tables must fit one broadcast. It is intended for small
    * query sets (ad-hoc lookups, eval probes); `maxQueries` (default
    * 4096) fails fast past that with a pointer to [[ivfPqTopK]], whose
    * coarse probing bounds the scanned fraction and is the right shape
    * for bulk query sets. The check costs one count over the query
    * frame — the small side by contract. */
  def pqAdcTopK(corpus: DataFrame, codebooks: DataFrame, queries: DataFrame,
                idCol: String, embCol: String, k: Int,
                subspaceCol: String = "subspace", codeCol: String = "code",
                vecCol: String = "vector", maxQueries: Int = 4096): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"pqAdcTopK scans corpus x queries: got > $maxQueries queries — " +
        "use ivfPqTopK (coarse-probed) for bulk query sets, or raise maxQueries")
    val cb = collectCodebooks(codebooks, subspaceCol, codeCol, vecCol)
    val coded = pqEncode(corpus.select(col(idCol), col(embCol)), codebooks,
      embCol, subspaceCol, codeCol, vecCol)
      .select(col(idCol), col("pq_codes"))
      // uncodable rows carry null codes (pqEncode's log-and-null) — they
      // have no defined distance to anything; keep them out of the lookup
      .filter(col("pq_codes").isNotNull)
    var q = withPqStages(
      queries.select(col(idCol).as("q_id"), col(embCol).as("__q_emb")),
      "__q_emb", cb)
    cb.zipWithIndex.foreach { case (entries, s) =>
      val cbLit = typedlit(entries.toSeq.map { case (c, v, n) => (c, v.toSeq, n) })
      q = q.withColumn(s"__tab_$s", transform(cbLit, e => pqDist(s, e)))
    }
    val tabs = q.withColumn("__tabs", array(cb.indices.map(s => col(s"__tab_$s")): _*))
      .select(col("q_id"), col("__tabs"))
    val scored = coded.crossJoin(broadcast(tabs))
      .filter(col("q_id") =!= col(idCol))
      // codes are dense 0..k-1 and tables are code-ordered, so the code IS
      // the lookup position; subspace order fixes the summation order
      .withColumn("cos", -aggregate(
        zip_with(col("pq_codes"), col("__tabs"), (c, t) => element_at(t, c + 1)),
        lit(0.0), (a, x) => a + x))
      .select(col("q_id"), col(idCol), col("cos"))
      // a query whose own embedding was uncodable yields null distances
      // against everything — no defined neighbors, not NaN-ranked ones
      .filter(col("cos").isNotNull)
    keepTopK(scored, idCol, k)
      .select(col("q_id"), col(idCol), round(-col("cos"), 6).as("adc"))
  }
}
