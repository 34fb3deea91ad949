package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Cross-document duplicate-span detection — the span-level dedup signal
  * ("Deduplicating Training Data Makes Language Models Better", Lee et
  * al. 2022): a position is duplicated when its `w`-token window occurs
  * anywhere else in the corpus (another document, or again in the same
  * one — intra-doc repeats are corpus repeats too). Distinct from
  * [[Repetition]] (intra-doc only, never crosses documents) and from
  * [[Dedup]] (whole-document granularity); this is the signal that
  * catches boilerplate paragraphs inside otherwise-unique documents.
  *
  * Shape at 100 TB: spans are md5 fingerprints (one narrow shingle+hash
  * projection); occurrence counts are ONE groupBy(fp) with map-side
  * partial aggregation; only the fingerprints with occ > 1 — the
  * duplicated minority — join back (left join onto the span stream), so
  * the join's build side is dup-sized, not corpus-sized. Per-doc stats
  * are a final groupBy(id). The exact form shuffles the corpus's span
  * stream twice; when even that is too hot, the [[graft.functions
  * .HeavyHitters]] sketch over the same fingerprints is the bounded-state
  * screen to run first.
  */
object Spans {

  /** (id, n_spans, n_dup_spans, dup_span_fraction) per document —
    * fraction 0.0 for documents shorter than `w` tokens. */
  def dupSpanStats(df: DataFrame, textCol: String, idCol: String,
                   w: Int = 10): DataFrame = {
    require(w >= 1, s"span width must be positive: $w")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // kernel floor (Par.widen): shingling + md5 ride the scan stage
    val grams = Par.widen(df).select(col(idCol),
      explode(Text.shinglesNative(Text.tokens(col(textCol)), w)).as("__gram"))
      .select(col(idCol), md5(col("__gram")).as("__fp"))
    val dupFps = grams.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > 1)
      .select(col("__fp"), lit(1L).as("__isdup"))
    val per = grams.join(dupFps, Seq("__fp"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__isdup"), lit(0L))).as("n_dup_spans"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_fraction",
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans"))
          .otherwise(lit(0.0)))
  }

  /** Exact-substring dedup, the ACTING form of [[dupSpanStats]] (Lee et
    * al. 2022 §4.1, the suffix-array method's outcome re-expressed on
    * the fingerprint machinery): every `w`-token window that occurs more
    * than once in the corpus keeps exactly ONE canonical occurrence —
    * the minimum (doc, offset), deterministic across runs and engines —
    * and every other occurrence is removed from its document's text
    * (all `w` token positions the window covers are dropped; a token
    * survives only if no removed window covers it). Returns
    * (`idCol`, n_tokens, n_kept, clean_text) for every input document —
    * n_tokens counts the original tokens, clean_text is the rewritten
    * document (empty when everything was duplicated elsewhere).
    *
    * Shape at 100 TB: the span stream is fingerprinted once (narrow
    * kernel shingle + md5); choosing canonical occurrences is ONE
    * row_number window over fp — a single shuffle whose per-group state
    * is a spillable sort, never a collected bucket (the LSH-banding
    * skew lesson applies unchanged: a boilerplate gram with 10^6
    * occurrences streams through rank assignment). Only non-canonical
    * occurrences — the duplicated minority — flow into the per-doc
    * removal lists, which are bounded by document length. The final
    * rewrite is a narrow per-row filter: O(tokens x removed spans in
    * that doc) worst case, i.e. quadratic only in single-document
    * length, never in corpus size. */
  def removeDupSpans(df: DataFrame, textCol: String, idCol: String,
                     w: Int = 10): DataFrame = {
    require(w >= 1, s"span width must be positive: $w")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val grams = Par.widen(df).select(col(idCol),
        posexplode(Text.shinglesNative(Text.tokens(col(textCol)), w)))
      .select(col(idCol), col("pos").as("__j"), md5(col("col")).as("__fp"))
    // canonical occurrence = rank 1 by (doc, offset) within each
    // fingerprint; everything ranked behind it is a removal
    val rk = Window.partitionBy(col("__fp")).orderBy(col(idCol), col("__j"))
    val removals = grams
      .withColumn("__rn", row_number().over(rk))
      .filter(col("__rn") >= 2)
      .groupBy(col(idCol))
      .agg(collect_list(col("__j")).as("__rm"))
    rewrite(df, removals, textCol, idCol, w)
  }

  /** The shared rewrite tail of [[removeDupSpans]] /
    * [[removeCorpusSpans]]: `removals` is (`idCol`, __rm: array of
    * 0-based window start offsets); a token survives iff no removed
    * window covers it. Null text = token-less document (empty array),
    * so n_tokens/n_kept are 0 and clean_text is "" — the
    * Bm25/Classifier null convention, not the ANSI-off size(null) = -1
    * that downstream length gates would read as negative. */
  private def rewrite(df: DataFrame, removals: DataFrame, textCol: String,
                      idCol: String, w: Int): DataFrame =
    df.select(col(idCol),
        coalesce(Text.tokens(col(textCol)), array().cast("array<string>"))
          .as("__tk"))
      .join(removals, Seq(idCol), "left")
      .select(col(idCol), col("__tk"),
        when(col("__rm").isNull, col("__tk"))
          .otherwise(filter(col("__tk"), (t, i) =>
            !exists(col("__rm"), p => i >= p && i <= p + lit(w - 1))))
          .as("__kept"))
      .select(col(idCol),
        size(col("__tk")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("clean_text"))

  /** The span STORE of a shipped corpus: the distinct fingerprints of
    * its `w`-token windows — what incremental span-level dedup needs to
    * remember. One fp per distinct window (corpus-token-bounded: this
    * is the store the suffix-array family also carries, made
    * re-shuffle-free by bucketing with [[writeSpanStore]]). */
  def spanStore(corpus: DataFrame, textCol: String, w: Int = 10): DataFrame = {
    require(w >= 1, s"span width must be positive: $w")
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    Par.widen(corpus)
      .select(explode(Text.shinglesNative(Text.tokens(col(textCol)), w))
        .as("__gram"))
      .select(md5(col("__gram")).as("fp"))
      .distinct()
  }

  /** Persists [[spanStore]] bucketed on `fp` (exchange-free probes). */
  def writeSpanStore(corpus: DataFrame, textCol: String, table: String,
                     buckets: Int, w: Int = 10): Unit =
    graft.sinks.Bucketing.writeBucketed(
      spanStore(corpus, textCol, w), table, Seq("fp"), buckets)

  /** The COMMIT step for the span store — the
    * [[graft.operators.Dedup.appendToFingerprintStore]] discipline for
    * the family's largest member: appends an ingested snapshot's
    * distinct window fingerprints (only the NEW ones — the anti-join
    * keeps the store distinct even under a crash-retry double-commit),
    * preserving the bucketed layout. After this, re-ingesting any
    * document through [[removeCorpusSpans]] scrubs every span the
    * snapshot shipped. `admitted` should be the ingested text as it
    * SHIPPED (i.e. the rewritten `clean_text` of the
    * [[removeCorpusSpans]] output, not the raw batch) so the store
    * stays the exact span inventory of the shipped corpus. */
  def appendToSpanStore(admitted: DataFrame, textCol: String, table: String,
                        w: Int = 10): Unit = {
    val spark = admitted.sparkSession
    graft.sinks.Bucketing.spec(spark, table) // finish a swap before the anti-join
    graft.sinks.Bucketing.append(spanStore(admitted, textCol, w)
      .join(spark.table(table), Seq("fp"), "left_anti"), table)
  }

  /** Incremental exact-substring dedup — [[removeDupSpans]] ACROSS
    * snapshots: every `w`-token window of `batch` whose fingerprint
    * exists in the shipped corpus's span `store` is removed from its
    * document ("don't re-ship paragraphs the corpus already has"),
    * without reading a byte of corpus text. Within-batch duplicates are
    * deliberately out of scope — compose with [[removeDupSpans]] on the
    * output for the full Lee-et-al treatment of the new snapshot.
    *
    * Shape at 100 TB: batch spans fingerprint in one narrow kernel
    * projection; the probe join is keyed on the fingerprint —
    * exchange-free on the store side when bucketed — and only matched
    * offsets (the re-shipped minority) flow into doc-length-bounded
    * removal lists; the rewrite is the same narrow per-row filter as
    * [[removeDupSpans]].
    *
    * `bloomBits > 0` adds the [[graft.operators.Dedup.againstCorpus]]
    * two-screen treatment — worth the most HERE, because the span store
    * is the family's largest (one key per distinct corpus window, vs one
    * per document): a [[graft.functions.BloomSketch]] built over the
    * store in one pass pre-screens the batch's span stream as a narrow
    * column, and only bloom-positive spans (true re-ships + the FP tail)
    * reach the join, which remains the exact authority — a false
    * positive merely joins and misses, it can never remove a novel span,
    * so the output is bit-identical at any sizing (differentially
    * pinned). Default off: the pre-screen costs one store scan up
    * front, which only pays when the batch's span stream dwarfs it.
    * `bloomBitsPerKey > 0` sizes the filter off the store's own
    * cardinality instead (overriding `bloomBits`, disabling itself past
    * `maxBloomBits` — [[Dedup.autoBloomBits]]); the span store is the
    * family's largest, so auto-sizing most often lands on "off" here,
    * which is the honest answer. */
  def removeCorpusSpans(batch: DataFrame, store: DataFrame, textCol: String,
                        idCol: String, w: Int = 10,
                        bloomBits: Int = 0, bloomHashes: Int = 4,
                        bloomBitsPerKey: Int = 0,
                        maxBloomBits: Int = Dedup.DefaultMaxBloomBits): DataFrame = {
    require(w >= 1, s"span width must be positive: $w")
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    val effBits =
      if (bloomBitsPerKey > 0)
        Dedup.autoBloomBits(store, "fp", bloomBitsPerKey, maxBloomBits)
      else bloomBits
    val spans = batch
      .select(col(idCol),
        posexplode(Text.shinglesNative(Text.tokens(col(textCol)), w)))
      .select(col(idCol), col("pos").as("__j"), md5(col("col")).as("fp"))
    val probed =
      if (effBits <= 0) spans
      else {
        val words = store
          .agg(graft.functions.BloomSketch.bloom(col("fp"), effBits, bloomHashes))
          .head.getSeq[Long](0)
        spans.filter(graft.functions.BloomSketch.mightContain(
          col("fp"), words, effBits, bloomHashes))
      }
    val removals = probed
      .join(store.select(col("fp")), Seq("fp"))
      .groupBy(col(idCol))
      .agg(collect_list(col("__j")).as("__rm"))
    rewrite(batch, removals, textCol, idCol, w)
  }
}
