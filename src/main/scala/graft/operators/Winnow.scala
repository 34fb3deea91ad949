package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
  * the MOSS selection rule): hash every k-gram, slide a window of `w`
  * consecutive hashes, and record the minimum of each window (with its
  * position); adjacent windows usually share their minimum, so the
  * distinct (pos, fp) pairs form a sparse fingerprint set with the
  * GUARANTEE that any shared substring of at least w + k − 1 tokens
  * contributes at least one shared fingerprint — the local-selection
  * upgrade over [[graft.functions.Text.rollingFingerprint]]'s global
  * mod-p sampling (q29), whose misses are unbounded.
  *
  * Tie rule: the LEFTMOST window minimum (array_position semantics in
  * both engines); the paper's robust variant prefers the rightmost —
  * same guarantee, slightly larger fingerprint density on repetitive
  * text, chosen here for exact cross-engine parity.
  *
  * Scale posture: a pure narrow projection (the digest array is staged
  * in its own projection — HOF lambdas do not share codegen
  * subexpressions, the q143 lesson) + one explode; per-document cost is
  * O(m·w) string compares with document-bounded m. No shuffle; at
  * 100 TB the fingerprint stream feeds the same fp-keyed machinery as
  * the span store (groupBy fp → winner election). */
object Winnow {

  /** One row per selected fingerprint: `idCol, pos, fp` — `pos` is the
    * 1-based k-gram index whose hash was selected, `fp` its md5 hex.
    * Documents with fewer than w k-grams emit nothing. */
  def fingerprints(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 4, w: Int = 4): DataFrame = {
    // kernel floor (Par.widen): the O(m·w) window-min selection runs in
    // the scan stage — re-deal a one-task input before paying it
    val sel = selected(Par.widen(df), textCol, idCol, k, w)
      // explode_OUTER + null filter, not plain explode: the
      // InferFiltersFromGenerate rewrite would otherwise push a
      // size(__sel) > 0 filter BELOW the staging projection, inlining
      // the whole O(m·w) selection (digest array included) into an
      // interpreted Filter — measured 33 s -> ~2 s at sf0.1 from this
      // one device (the Chunk.scala precedent; the rule skips outer
      // generates)
      .select(col(idCol), explode_outer(col("__sel")).as("__s"))
      .filter(col("__s").isNotNull)
    sel.select(col(idCol), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** Per-document DISTINCT fingerprint set: `idCol, fps array<string>`
    * (possibly empty). The per-row set form the streaming gate needs —
    * a stream cannot afford a stateful `distinct` before its own
    * stateful op, and here the dedup runs inside the row's own
    * projection instead. Same narrow selection as [[fingerprints]]. */
  def fpSets(df: DataFrame, textCol: String, idCol: String,
             k: Int = 4, w: Int = 4, keep: Seq[String] = Nil): DataFrame =
    selected(df, textCol, idCol, k, w, keep)
      .select((col(idCol) +: keep.map(col)) :+ array_distinct(
        transform(col("__sel"), _.getField("fp"))).as("fps"): _*)

  /** The winnow fingerprint STORE of a shipped corpus — its distinct
    * selected fps, everything cross-snapshot PARTIAL-overlap detection
    * needs to remember about old text (the q167 store frame made
    * first-class, completing the store discipline for the span-granular
    * family beside the fingerprint / signature / semantic / k-NN
    * stores). */
  def fpStore(corpus: DataFrame, textCol: String, idCol: String,
              k: Int = 4, w: Int = 4): DataFrame =
    fingerprints(corpus, textCol, idCol, k, w).select(col("fp")).distinct()

  /** Geometry stamp carried by a persisted winnow store: fingerprints
    * selected under a different (k, w) live in a DIFFERENT fingerprint
    * space — an append or probe with mismatched geometry would silently
    * report zero overlap, so probes and appends replay the stamp and a
    * missing stamp fails fast (the k-NN store discipline). */
  val WinnowGeometryProp = "graft.winnow.geometry"
  private def geomString(k: Int, w: Int): String = s"k=$k;w=$w"

  /** Persists [[fpStore]] bucketed by `fp` and stamps the (k, w)
    * geometry: every [[probeStore]] then joins EXCHANGE-FREE on the
    * store side (the [[graft.operators.Dedup.writeFingerprintStore]]
    * posture — only the incoming batch shuffles; the shipped corpus's
    * fingerprints are never re-shuffled, never re-derived). */
  def writeFpStore(corpus: DataFrame, textCol: String, idCol: String,
                   table: String, buckets: Int,
                   k: Int = 4, w: Int = 4): Unit = {
    graft.sinks.Bucketing.writeBucketed(
      fpStore(corpus, textCol, idCol, k, w), table, Seq("fp"), buckets)
    graft.sinks.Bucketing.stamp(corpus.sparkSession, table,
      WinnowGeometryProp, geomString(k, w))
  }

  private def storedGeometry(spark: org.apache.spark.sql.SparkSession,
                             table: String): (Int, Int) = {
    val raw = graft.sinks.Bucketing.stamped(spark, table, WinnowGeometryProp)
      .getOrElse(throw new IllegalStateException(
        s"'$table' carries no $WinnowGeometryProp stamp — not a winnow " +
          "store table, or an interrupted write; rebuild via writeFpStore"))
    val re = "k=(\\d+);w=(\\d+)".r
    raw match {
      case re(k, w) => (k.toInt, w.toInt)
      case _ => throw new IllegalStateException(
        s"unparseable geometry stamp '$raw' on '$table'")
    }
  }

  /** The persisted store's distinct-fp frame plus its stamped (k, w) —
    * the `seed` a [[graft.streaming.WinnowGate]] loads as initial state
    * (gate k/w MUST be the returned pair; the stamp is the single
    * source of truth). */
  def openFpStore(spark: org.apache.spark.sql.SparkSession,
                  table: String): (DataFrame, Int, Int) = {
    val (k, w) = storedGeometry(spark, table)
    (spark.table(table).select(col("fp")), k, w)
  }

  /** Appends a new snapshot's fingerprints to a persisted store,
    * replaying the stamped geometry (a caller cannot diverge from it)
    * and preserving the bucketed layout. Anti-joins the store first, so
    * a crash-retry double-append cannot seed duplicate fps — ingest
    * stays idempotent (the appendToFingerprintStore discipline). */
  def appendToFpStore(admitted: DataFrame, textCol: String, idCol: String,
                      table: String): Unit = {
    val spark = admitted.sparkSession
    val (k, w) = storedGeometry(spark, table)
    graft.sinks.Bucketing.append(fpStore(admitted, textCol, idCol, k, w)
      .join(spark.table(table), Seq("fp"), "left_anti"), table)
  }

  /** Per-document partial-overlap probe against a persisted store —
    * q167's report shape (`idCol, n_fps, n_hits`) under the store's own
    * stamped geometry: how many of each batch document's winnow fps the
    * shipped corpus already holds. Re-crawled dups hit on ~every fp;
    * edited re-deliveries still hit on their unchanged interior (the
    * w+k−1 guarantee). One fp-keyed join, exchange-free on the store
    * side. */
  def probeStore(batch: DataFrame, textCol: String, idCol: String,
                 table: String): DataFrame = {
    val spark = batch.sparkSession
    val (k, w) = storedGeometry(spark, table)
    fingerprints(batch, textCol, idCol, k, w)
      .join(spark.table(table).select(col("fp"))
        .withColumn("__hit", lit(1)), Seq("fp"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"), count(col("__hit")).as("n_hits"))
  }

  /** The staged winnow selection: `idCol, __sel array<struct<pos,fp>>`
    * (distinct pairs, document order). Two projections on purpose — the
    * digest array is staged before the window lambdas read it. `keep`
    * columns ride through as PLAIN aliases (watermark metadata on an
    * event-time column survives to a downstream stateful op). */
  private def selected(df: DataFrame, textCol: String, idCol: String,
                       k: Int, w: Int, keep: Seq[String] = Nil): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow: need k >= 1, w >= 1, got $k/$w")
    df.select((col(idCol) +: keep.map(col)) :+
        transform(Text.shinglesNative(Text.tokens(col(textCol)), k),
          x => md5(x)).as("__hs"): _*)
      .select((col(idCol) +: keep.map(col)) :+ when(size(col("__hs")) < w,
        array().cast("array<struct<pos:bigint,fp:string>>"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(col("__hs")) - w + 1),
          i => {
            val win = slice(col("__hs"), i, lit(w))
            val m = array_min(win)
            struct(
              (i.cast("long") + array_position(win, m) - 1L).as("pos"),
              m.as("fp"))
          }))).as("__sel"): _*)
  }
}
