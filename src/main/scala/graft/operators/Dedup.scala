package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Library-facing deduplication operators — the packaged `df => df` forms
  * of the oracle-checked query shapes (q20–q23, q29). All shuffle exactly
  * once on their dedup key and never join the corpus against itself.
  */
object Dedup {

  /** Uniqifier for the [[simhashNearDup]] star-path observe metric. */
  private[operators] val starMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Default plan-literal budget for auto-sized bloom pre-screens:
    * 2^24 bits = 2 MB of packed words embedded per probe plan — past
    * this the serialized-plan tax outweighs the screen (the measured
    * q101 oversized-literal lesson), so auto-sizing disables instead. */
  val DefaultMaxBloomBits: Int = 1 << 24

  /** The bloom size `bitsPerKey` bits per distinct store key buys, or 0
    * (pre-screen off) when that exceeds `maxBits` — the shared sizing
    * rule of [[againstCorpus]] / [[Spans.removeCorpusSpans]]'s
    * `bloomBitsPerKey` mode. Sizing uses `count()` — metadata-cheap on
    * parquet, no scan — which equals the distinct-key count ONLY when
    * `store` is distinct on `keyCol`. Every store this library writes
    * ([[fingerprintStore]], [[Spans.spanStore]]) satisfies that by
    * construction; callers passing an arbitrary frame with repeated
    * keys get an inflated size (correct bits, possibly a premature
    * over-budget self-disable) — de-dup the frame first if that
    * matters. Never returns a positive value below 64 (the aggregate's
    * floor). */
  def autoBloomBits(store: DataFrame, keyCol: String, bitsPerKey: Int,
                    maxBits: Int = DefaultMaxBloomBits): Int = {
    require(bitsPerKey > 0, s"bitsPerKey must be positive: $bitsPerKey")
    val n = store.select(col(keyCol)).count()
    val ideal = n * bitsPerKey.toLong
    if (ideal > maxBits) 0 else math.max(64L, ideal).toInt
  }

  /** Exact dedup by normalized-text fingerprint: keeps the lowest `idCol`
    * per duplicate group (deterministic winner). One shuffle on the
    * fingerprint. */
  def exactByText(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = Text.fingerprint(col(textCol)).as("__fp")
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** [[exactByText]] with a QUALITY winner policy — the exact-dup
    * sibling of [[pruneNearDupsBy]]: each duplicate group keeps its
    * best row by (`scoreCol` desc, id asc) instead of the arbitrary
    * minimum id. Identical texts can still differ in what RIDES them
    * (source, fetch date, quality score), and "of the k crawled copies
    * keep the best-provenance one" is the curation rule; NULL scores
    * lose to any non-null one (max ignores nulls), an all-null group
    * falls back to min-id.
    *
    * Scale: same shape as [[pruneNearDupsBy]] — two partial-aggregated
    * groupBys on the fingerprint (max score, then min id among the
    * maxima) and one semi-join back; NO per-group window sort, so a
    * boilerplate mega-group costs a reduction, not a single-task sort
    * (where [[exactByText]]'s row_number window funnels each group
    * through one task). */
  def exactByTextBy(df: DataFrame, textCol: String, idCol: String,
                    scoreCol: String): DataFrame = {
    require(df.columns.contains(scoreCol),
      s"exactByTextBy: column '$scoreCol' not in the frame " +
        s"(has: ${df.columns.sorted.mkString(", ")})")
    val withFp = df.select(col(idCol), col(scoreCol),
      Text.fingerprint(col(textCol)).as("__fp"))
    val best = withFp.groupBy(col("__fp"))
      .agg(max(col(scoreCol)).as("__ms"))
    val winners = withFp.join(best, Seq("__fp"))
      // null-safe: an all-null group has __ms NULL and keeps every row
      // here, so the min-id fallback below decides it
      .filter(col(scoreCol) <=> col("__ms"))
      .groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Exact dedup by arbitrary key columns (`dropDuplicates` with a
    * deterministic winner instead of an arbitrary one). */
  def exactByKey(df: DataFrame, keys: Seq[String], orderBy: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderBy))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** SEGMENT-level exact dedup with document reassembly — the C4/Gopher
    * intra-corpus boilerplate remover: every document splits into
    * fixed-size token segments ([[Chunk.split]], overlap 0), a segment
    * seen anywhere before (earlier document, or earlier in the SAME
    * document) is dropped, and each document is rebuilt from its
    * surviving segments in order. "First occurrence" is the global
    * (idCol, segment index) minimum — deterministic, rerun-stable.
    * Output: (idCol, n_segs, n_kept, textCol) — token-less documents
    * keep (0, 0, "").
    *
    * Shape at 100 TB: the winner election shuffles md5 keys (16 bytes
    * per segment, never the text) into a partially-aggregated
    * groupBy-min; the segment stream then joins that winner table on
    * the same key and reassembles with one groupBy(id) whose state is
    * document-bounded. No window over the corpus, no driver state. */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segTokens: Int = 10): DataFrame = {
    require(segTokens >= 1, s"segTokens must be positive: $segTokens")
    // kernel floor (Par.widen): segment slicing + md5 run in the scan
    // stage; a one-file corpus serializes them on one core
    val segs = Chunk.split(Par.widen(df).select(col(idCol), col(textCol)), textCol,
        chunkTokens = segTokens, overlap = 0)
      .select(col(idCol).as("__id"), col("chunk_idx"), col("chunk_text"),
        md5(col("chunk_text")).as("__k"))
    val winners = segs.groupBy(col("__k"))
      .agg(min(struct(col("__id"), col("chunk_idx"))).as("__w"))
    val rebuilt = segs.join(winners, Seq("__k"))
      .withColumn("__keep", col("__id") === col("__w.__id") &&
        col("chunk_idx") === col("__w.chunk_idx"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("__keep").cast("long")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text")), " ").as("__text"))
    df.select(col(idCol))
      .join(rebuilt, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__text"), lit("")).as(textCol))
  }

  /** The fingerprint STORE of a shipped corpus — the distinct normalized
    * -text fingerprints, the only thing incremental dedup ever needs to
    * remember about old data (32-byte hex per distinct document, not the
    * text). Persist it once with [[writeFingerprintStore]] and every
    * future snapshot dedups against it without touching the corpus. */
  def fingerprintStore(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(Text.fingerprint(col(textCol)).as("fp")).distinct()

  /** Persists [[fingerprintStore]] bucketed by `fp` (via
    * [[graft.sinks.Bucketing]]) so that every [[againstCorpus]] probe
    * joins against it EXCHANGE-FREE: the store lands hash-partitioned on
    * the join key at write time, and only the (small) incoming batch
    * shuffles at probe time. This is the piece that makes "dedup this
    * month's crawl against the shipped 100 TB" cost O(batch), not
    * O(corpus): the old corpus is never re-shuffled — it is never even
    * re-read beyond its fingerprint column's bucket files. */
  def writeFingerprintStore(corpus: DataFrame, textCol: String,
                            table: String, buckets: Int): Unit =
    graft.sinks.Bucketing.writeBucketed(
      fingerprintStore(corpus, textCol), table, Seq("fp"), buckets)

  /** Incremental / cross-snapshot dedup: the rows of `batch` that are new
    * against BOTH the shipped corpus (represented only by its fingerprint
    * `store` — one `fp` column, [[fingerprintStore]]) and the batch
    * itself (lowest `idCol` wins within a batch duplicate group, the
    * [[exactByText]] rule). All batch columns survive. This is the
    * production shape of dedup — "admit this snapshot against everything
    * already shipped" — without re-shuffling or even re-reading old text.
    *
    * Two screens, one exact answer:
    *  1. a [[graft.functions.BloomSketch]] built over the store in one
    *     narrow aggregate pass (driver-bounded: `bloomBits / 8` bytes)
    *     pre-screens every batch row as a pure codegen'd column — rows
    *     the bloom misses are DEFINITELY novel (no false negatives) and
    *     skip the join entirely;
    *  2. bloom-positive rows — true duplicates plus the ~1% false-
    *     positive tail — are the only ones that reach the left-anti join
    *     against the store, which rescues the false positives. The
    *     result is bit-exact regardless of bloom sizing (q101's oracle
    *     dedups the union in SQL and hash-matches this composition).
    *
    * Scale: the two screen branches share the in-batch dedup's window
    * shuffle (ReuseExchange — same exchange, two consumers); the anti-
    * join probe side carries only bloom-positive batch rows; and when
    * the store is the [[writeFingerprintStore]] bucketed table, the
    * store side of that join plans with ZERO exchanges (pinned by
    * IncrementalDedupSpec). At store cardinalities where a useful bloom
    * outgrows the driver (~10^10+ distinct fps), set `bloomBits <= 0`
    * to disable the pre-screen — everything probes the bucketed join,
    * still exchange-free on the corpus side.
    *
    * Sizing without knowing the store: pass `bloomBitsPerKey > 0`
    * (~10 bits/key ≈ 1% FP at 4 hashes) and the filter is sized off the
    * store's own cardinality — one count aggregate, metadata-cheap on a
    * parquet-backed store — clamped by `maxBloomBits` (the plan-literal
    * budget: the probe column embeds the word array in every task's
    * plan). Past the budget the pre-screen DISABLES itself rather than
    * shrink below usefulness, the documented posture; either way the
    * result is bit-identical ([[autoBloomBits]], pinned by
    * IncrementalDedupSpec). `bloomBitsPerKey > 0` overrides
    * `bloomBits`. */
  def againstCorpus(batch: DataFrame, store: DataFrame,
                    textCol: String, idCol: String,
                    bloomBits: Int = 1 << 22, bloomHashes: Int = 4,
                    bloomBitsPerKey: Int = 0,
                    maxBloomBits: Int = DefaultMaxBloomBits): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    val effBits =
      if (bloomBitsPerKey > 0)
        autoBloomBits(store, "fp", bloomBitsPerKey, maxBloomBits)
      else bloomBits
    val withFp = batch.withColumn("__fp", Text.fingerprint(col(textCol)))
    val inBatch = exactByKey(withFp, Seq("__fp"), idCol)
    val storeFp = store.select(col("fp").as("__fp"))
    val admitted =
      if (effBits <= 0) inBatch.join(storeFp, Seq("__fp"), "left_anti")
      else {
        val words = store
          .agg(graft.functions.BloomSketch.bloom(col("fp"), effBits, bloomHashes))
          .head.getSeq[Long](0)
        val maybe = graft.functions.BloomSketch.mightContain(
          col("__fp"), words, effBits, bloomHashes)
        inBatch.filter(!maybe)
          .unionByName(inBatch.filter(maybe).join(storeFp, Seq("__fp"), "left_anti"))
      }
    admitted.drop("__fp")
  }

  /** The COMMIT step of an ingest round: append an admitted snapshot's
    * fingerprints to the persisted store table, preserving its bucketed
    * layout (rows are pre-partitioned on the table's own bucket spec so
    * each task writes one bucket file, the [[graft.sinks.Bucketing]]
    * discipline). After this, re-ingesting the same snapshot admits
    * NOTHING — ingest is idempotent, the library's rerunnable-ingest
    * contract extended to the incremental path (pinned by
    * IncrementalDedupSpec). Admitted rows are new against the store by
    * construction, but the append still anti-joins the store first (the
    * [[appendToSignatureStore]] discipline), so even a double-COMMIT of
    * the same snapshot — the crash-retry case — cannot seed duplicate
    * fingerprints; the probe join's cost bounds are distinctness-
    * agnostic either way. */
  def appendToFingerprintStore(admitted: DataFrame, textCol: String,
                               table: String): Unit = {
    val spark = admitted.sparkSession
    graft.sinks.Bucketing.spec(spark, table) // finish a swap before the anti-join
    graft.sinks.Bucketing.append(fingerprintStore(admitted, textCol)
      .join(spark.table(table), Seq("fp"), "left_anti"), table)
  }

  /** The NEAR-dup analogue of [[fingerprintStore]]: the corpus's
    * distinct MinHash band signatures — (band, sig), 0-based bands —
    * which is everything incremental near-dup dedup needs to remember
    * about shipped text shapes. Cardinality is bands × distinct band
    * signatures (the same key space the batch LSH shuffle groups on). */
  def signatureStore(corpus: DataFrame, textCol: String,
                     shingle: Int = 5, bands: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    // kernel floor (Par.widen): shingling + the MinHash band kernel are
    // the cost of this pass — don't serialize them on a one-task scan
    Par.widen(corpus).select(Text.tokens(col(textCol)).as("__tk"))
      .select(posexplode(Text.minhashBandsNative(col("__tk"), shingle, bands)))
      .select(col("pos").as("band"), col("col").as("sig"))
      .filter(col("sig").isNotNull)
      .distinct()
  }

  /** Picks LSH banding `(bands, rows)` for a target Jaccard threshold —
    * the missing driver math the sizing literals papered over: callers
    * have a similarity τ they care about, not a (bands, rows) pair. With
    * `rows` draws per band the any-band collision probability is the
    * S-curve p(s) = 1 − (1 − s^rows)^bands, whose knee (steepest point)
    * sits at s* ≈ (1/bands)^(1/rows); this solve enumerates the factor
    * pairs of the `nDraws` signature budget and returns the pair whose
    * knee lands closest to `tau` — below τ collisions decay fast, above
    * it they saturate. Pure driver arithmetic over ≤ nDraws divisors
    * (zero jobs); feed the result to [[nearDupCandidates]] /
    * [[weightedMinhashSigs]] / [[candidatesFromSigs]].
    *
    * Tie note: more bands with fewer rows per band = higher recall, more
    * candidates; the knee criterion resolves budget ties toward the
    * closest threshold fit, and exact knee ties keep the HIGHER-rows
    * (more selective) pair — boilerplate-heavy corpora want fewer false
    * candidates, and the verified paths re-score anyway. */
  def tuneBands(tau: Double, nDraws: Int = 16): (Int, Int) = {
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0, 1): $tau")
    require(nDraws >= 1, s"nDraws must be positive: $nDraws")
    val pairs = for (r <- 1 to nDraws if nDraws % r == 0) yield (nDraws / r, r)
    pairs.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - tau), -r)
    }
  }

  /** WEIGHTED MinHash band signatures — consistent weighted sampling
    * over the document's term-frequency bag (min of Exp(tf)-distributed
    * hashes: each draw picks the argmin of `-ln(u(seed, token)) /
    * tf(token)` over distinct tokens, `u` an exact dyadic md5 uniform —
    * the [[Dsir.gumbelTopK]] idiom). A single draw agrees between two
    * documents with probability equal to their WEIGHTED Jaccard
    * Σmin(tf_a, tf_b)/Σmax(tf_a, tf_b); a band concatenates `rows`
    * draws (the AND construction), so a band collides with J^rows and
    * the any-band OR across `bands` stays selective — one draw per band
    * would fire between unrelated docs sharing a single token (J=1/7 ⇒
    * ~0.46 with 4 bands; squared it is ~0.08). Repeated boilerplate
    * with different term emphasis separates where the set-based
    * [[signatureStore]] (which ignores counts) collides.
    *
    * Shape at scale: tf and every draw's argmin are higher-order
    * functions over the row's own token array — the signature pass is
    * NARROW (zero shuffles), same as the unweighted native path.
    * O(L·D + bands·rows·D) per doc for L tokens, D distinct. Returns
    * (id, band, sig); sig is null only for token-less documents
    * (filtered). */
  def weightedMinhashSigs(df: DataFrame, textCol: String, idCol: String,
                          bands: Int = 4, rows: Int = 2): DataFrame = {
    require(bands >= 1, s"bands must be positive: $bands")
    require(rows >= 1, s"rows must be positive: $rows")
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // every draw in ONE codegen'd kernel call per row (single-pass tf
    // map) — the per-row-fold-over-a-table lesson applied a fourth time
    // (shingles, MinHashBands, pq_codes precedents); the interpreted
    // HOF construction below stays as the differential witness.
    // posexplode_OUTER + null filter, not plain posexplode: the
    // InferFiltersFromGenerate rewrite would inline the kernel into a
    // pre-Generate Filter and run it twice per row (the Chunk device).
    Par.widen(df).select(col(idCol), Text.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), call_function(
        graft.functions.WeightedMinhashExpr.name,
        col("__tk"), lit(bands), lit(rows)).as("__sigs"))
      .select(col(idCol), posexplode_outer(col("__sigs")))
      .filter(col("col").isNotNull)
      .select(col(idCol), (col("pos") + 1).cast("long").as("band"),
        col("col").as("sig"))
  }

  /** The composable HOF construction of [[weightedMinhashSigs]] — the
    * kernel's differential witness (and the form the q129 oracle
    * mirrors term by term). */
  private[graft] def weightedMinhashSigsFold(
      df: DataFrame, textCol: String, idCol: String,
      bands: Int = 4, rows: Int = 2): DataFrame = {
    require(bands >= 1, s"bands must be positive: $bands")
    require(rows >= 1, s"rows must be positive: $rows")
    // tf once per doc (the O(L·D) part); each draw scans the
    // precomputed (token, tf) pairs
    val tfs = transform(array_distinct(col("__tk")), t =>
      struct(t.as("t"),
        size(filter(col("__tk"), x => x === t)).cast("double").as("tf")))
    def draw(seed: String): Column = {
      def u(t: Column): Column =
        (conv(substring(md5(concat(lit(s"$seed|"), t)), 1, 8), 16, 10)
          .cast("double") + lit(0.5)) / lit(4294967296.0)
      array_min(transform(col("__tf"), e =>
        struct((-log(u(e.getField("t"))) / e.getField("tf")).as("v"),
          e.getField("t").as("t"))))
        .getField("t")
    }
    def sig(bnd: Int): Column =
      concat_ws("|", (1 to rows).map(k => draw(s"$bnd:$k")): _*)
    df.select(col(idCol), Text.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), tfs.as("__tf"))
      .filter(size(col("__tf")) > 0)
      .select(col(idCol), explode(array((1 to bands).map(bnd =>
        struct(lit(bnd.toLong).as("band"), sig(bnd).as("sig"))): _*)).as("__e"))
      .select(col(idCol), col("__e.band").as("band"), col("__e.sig").as("sig"))
  }

  /** The weighted twin of [[signatureStore]]: the distinct
    * (band, sig) key set of [[weightedMinhashSigs]] — persist with
    * [[graft.sinks.Bucketing.writeBucketed]] on (band, sig) like the
    * unweighted store and probe through
    * [[weightedNearDupsAgainstCorpus]]. */
  def weightedSignatureStore(corpus: DataFrame, textCol: String,
                             bands: Int = 4): DataFrame =
    weightedMinhashSigs(corpus.select(col(textCol), lit(0L).as("__wid")),
        textCol, "__wid", bands)
      .select(col("band"), col("sig")).distinct()

  /** [[nearDupsAgainstCorpus]] on WEIGHTED signatures: a batch doc
    * whose any weighted band signature collides with the corpus store
    * is dropped (tf-twin of something shipped), then the novel
    * minority dedups against itself via [[candidatesFromSigs]] over
    * its own weighted signatures. Store side stays exchange-free when
    * bucketed on (band, sig); the batch signature pass is narrow. */
  def weightedNearDupsAgainstCorpus(batch: DataFrame, store: DataFrame,
                                    textCol: String, idCol: String,
                                    bands: Int = 4,
                                    maxBucket: Int = 1024): DataFrame = {
    val hit = weightedMinhashSigs(batch, textCol, idCol, bands)
      .join(store, Seq("band", "sig"))
      .select(col(idCol)).distinct()
    // batch-sized checkpoint: the prune drives several actions and must
    // not re-probe the store per action (the nearDupsAgainstCorpus
    // discipline)
    val novel = batch.join(hit, Seq(idCol), "left_anti").localCheckpoint()
    val pairs = candidatesFromSigs(
      weightedMinhashSigs(novel, textCol, idCol, bands), idCol, maxBucket,
      metricPrefix = "graft_wminhash_star")
    val losers = clusters(pairs, s"${idCol}_a", s"${idCol}_b")
      .where(col("cluster") =!= col("node"))
      .select(col("node").as(idCol))
    novel.join(losers, Seq(idCol), "left_anti")
  }

  /** Persists [[signatureStore]] bucketed on (band, sig) so incremental
    * probes join it exchange-free — the [[writeFingerprintStore]]
    * posture for the near-dup key space. */
  def writeSignatureStore(corpus: DataFrame, textCol: String,
                          table: String, buckets: Int,
                          shingle: Int = 5, bands: Int = 4): Unit =
    graft.sinks.Bucketing.writeBucketed(
      signatureStore(corpus, textCol, shingle, bands), table,
      Seq("band", "sig"), buckets)

  /** [[appendToFingerprintStore]] for the signature store: commits an
    * admitted snapshot's band signatures (only the NEW (band, sig) keys
    * — the store stays distinct), after which re-ingesting the same or
    * any same-shaped snapshot admits nothing through
    * [[nearDupsAgainstCorpus]]. */
  def appendToSignatureStore(admitted: DataFrame, textCol: String,
                             table: String,
                             shingle: Int = 5, bands: Int = 4): Unit = {
    val spark = admitted.sparkSession
    graft.sinks.Bucketing.spec(spark, table) // finish a swap before the anti-join
    graft.sinks.Bucketing.append(
      signatureStore(admitted, textCol, shingle, bands)
        .join(spark.table(table), Seq("band", "sig"), "left_anti"), table)
  }

  /** Incremental NEAR-dup dedup — [[againstCorpus]] for document SHAPES
    * rather than exact fingerprints: a batch document whose ANY band
    * signature collides with the corpus `store` is a near-dup suspect of
    * something already shipped and is dropped (the banding decision —
    * the same single-pass online contract as
    * [[graft.streaming.NearDupGate]]: band-level false positives are
    * possible and the corpus text is NEVER read to verify, which is the
    * point — re-verification would re-scan 100 TB); the surviving novel
    * minority then dedups against ITSELF with the full verified
    * in-batch machinery ([[pruneNearDups]]). Returns the admitted batch
    * rows, all columns intact.
    *
    * Scale: the batch signature stream joins the store on (band, sig) —
    * exchange-free on the store side when it is the
    * [[writeSignatureStore]] bucketed table; the collision hit list is
    * loser-sized and anti-joins back on the id. The corpus contributes
    * only its signature store, never text, never a shuffle. */
  def nearDupsAgainstCorpus(batch: DataFrame, store: DataFrame,
                            textCol: String, idCol: String,
                            shingle: Int = 5, bands: Int = 4,
                            maxBucket: Int = 1024): DataFrame = {
    val hit = storeCollisions(batch, store, textCol, idCol, shingle, bands)
    // materialize the admitted minority ONCE before the in-batch prune:
    // pruneNearDups drives several actions over its input (the cluster
    // rounds checkpoint, the final anti-join), and each would otherwise
    // re-derive the whole batch-vs-store stage — at 100 TB that is
    // re-probing the store per action. The checkpoint is batch-sized.
    val novel = batch.join(hit, Seq(idCol), "left_anti").localCheckpoint()
    pruneNearDups(novel, textCol, idCol, shingle, bands, maxBucket)
  }

  /** The batch-vs-store collision probe of [[nearDupsAgainstCorpus]]:
    * distinct batch ids whose ANY band signature is present in the
    * store. Public for two callers: plan pins (the composed operator
    * checkpoints this stage, hiding its plan from the final execution)
    * and [[Audit]]ed pipelines, which attribute the store screen and
    * the in-batch prune as separate drop reasons. */
  def storeCollisions(batch: DataFrame, store: DataFrame,
      textCol: String, idCol: String, shingle: Int = 5,
      bands: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    Par.widen(batch)
      .select(col(idCol), Text.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        posexplode(Text.minhashBandsNative(col("__tk"), shingle, bands)))
      .select(col(idCol), col("pos").as("band"), col("col").as("sig"))
      .filter(col("sig").isNotNull)
      .join(store, Seq("band", "sig"))
      .select(col(idCol)).distinct()
  }

  /** Near-duplicate candidate pairs via banded MinHash LSH (native
    * codegen'd signatures): returns (`idCol`_a, `idCol`_b) with a < b.
    * One signature pass, one shuffle on (band, sig), in-bucket pair
    * expansion — never a corpus self-join.
    *
    * Skew guard: a collision bucket larger than `maxBucket` is the
    * boilerplate-template case (millions of documents sharing one band
    * signature on web crawls) — materializing its O(b²) pairs in one task
    * is the classic LSH scale-killer. Such buckets skip pair expansion
    * entirely and emit a STAR over the bucket's minimum id (O(b) rows).
    * Every bucket member is mutually a candidate by construction (they
    * collide on the same band), so the star preserves exactly the
    * connected components [[clusters]] would have derived from the full
    * pair set — dedup grouping is unchanged; only the redundant
    * within-bucket pair list is elided. Buckets within the cap are
    * expanded exactly as before (capped == uncapped below the cap, pinned
    * by DedupSimilaritySpec). Memory stays bounded on any skew: bucket
    * sizing runs as window aggregates (spillable sort buffer), and
    * `collect_list` only ever sees buckets ≤ `maxBucket`. */
  def nearDupCandidates(df: DataFrame, textCol: String, idCol: String,
                        shingle: Int = 5, bands: Int = 4,
                        maxBucket: Int = 1024): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val sigs = Par.widen(df).select(col(idCol), Text.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), posexplode(Text.minhashBandsNative(col("__tk"), shingle, bands)))
      .select(col(idCol), col("pos").as("band"), col("col").as("sig"))
    candidatesFromSigs(sigs, idCol, maxBucket, metricPrefix = "graft_minhash_star")
  }

  /** Candidate pairs from ANY (id, band, sig) signature frame — the
    * bucket-join discipline [[nearDupCandidates]] and
    * [[weightedMinhashSigs]]-based dedup share: docs agreeing on a band
    * signature pair up, buckets over `maxBucket` degrade to a min-id
    * STAR (components preserved, O(b) not O(b²), observable via the
    * `metricPrefix` counter).
    *
    * ONE shuffle: the sizing window and the small-bucket groupBy share
    * the (band, sig) hash partitioning, so EnsureRequirements inserts
    * no second exchange and ReuseExchange computes the signature
    * shuffle once for both branches. Memory stays bounded on any skew:
    * bucket sizing runs as window aggregates (spillable sort buffer),
    * and `collect_list` only ever sees buckets ≤ `maxBucket`. */
  def candidatesFromSigs(sigs: DataFrame, idCol: String,
                         maxBucket: Int = 1024,
                         metricPrefix: String = "graft_sig_star"): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    val a = s"${idCol}_a"
    val b = s"${idCol}_b"
    val w = Window.partitionBy(col("__band"), col("__sig"))
    val sized = sigs
      .select(col(idCol), col("band").as("__band"), col("sig").as("__sig"))
      .filter(col("__sig").isNotNull)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__min", min(col(idCol)).over(w))
    val star = sized
      .filter(col("__n") > maxBucket && col(idCol) =!= col("__min"))
      .select(col("__min").as(a), col(idCol).as(b))
      // observability parity with [[simhashNearDup]]: the star preserves
      // connected components exactly (no recall loss), but a non-zero
      // count tells the operator's user a boilerplate bucket exceeded
      // the cap and pair-level output is star-shaped there
      .observe(s"${metricPrefix}_${Dedup.starMetricSeq.incrementAndGet()}",
        count(lit(1)).as("star_rows"))
    val smallPairs = sized
      .filter(col("__n") <= maxBucket && col("__n") > 1)
      .groupBy(col("__band"), col("__sig"))
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .select(explode(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + 2, size(col("__ids"))),
          y => struct(x.as(a), y.as(b)))))).as("__p"))
      .select(col(s"__p.$a"), col(s"__p.$b"))
    smallPairs.union(star).distinct()
  }

  /** [[nearDupCandidates]] + the exact-Jaccard verification stage a
    * production dedup runs before acting — LSH banding admits false
    * positives (one colliding band suffices), so each candidate pair is
    * re-scored on its full distinct-`shingle`-gram sets and only pairs
    * with Jaccard ≥ `minJaccard` survive. Returns
    * (`idCol`_a, `idCol`_b, jaccard).
    *
    * Scale posture: the gram-set frame is computed once (one narrow
    * kernel projection) and joined onto the candidate list twice — both
    * joins are keyed on ids and bounded by the CANDIDATE count (LSH has
    * already cut the pair space from n² to colliding buckets); the set
    * intersect/union runs per surviving pair only. The exact
    * verification never touches non-candidate pairs, so the whole stage
    * costs O(candidates), not O(n²). */
  def nearDupVerified(df: DataFrame, textCol: String, idCol: String,
                      shingle: Int = 5, bands: Int = 4,
                      minJaccard: Double = 0.5): DataFrame = {
    val a = s"${idCol}_a"
    val b = s"${idCol}_b"
    val grams = df.select(col(idCol).as("__gid"),
      array_distinct(Text.shinglesNative(Text.tokens(col(textCol)), shingle))
        .as("__sh"))
    nearDupCandidates(df, textCol, idCol, shingle, bands)
      .join(grams.select(col("__gid"), col("__sh").as("__sh_a")),
        col(a) === col("__gid")).drop("__gid")
      .join(grams.select(col("__gid"), col("__sh").as("__sh_b")),
        col(b) === col("__gid")).drop("__gid")
      .select(col(a), col(b),
        (size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
          size(array_union(col("__sh_a"), col("__sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Containment-verified near-dup pairs: the LSH candidates re-scored on
    * full distinct shingle sets with the ASYMMETRIC containment measure
    * C(A,B) = |A∩B| / |A| (and its mirror) instead of symmetric Jaccard.
    * Containment is the right cut when one side may be a SUBSET of the
    * other — boilerplate-wrapped republication, quote-heavy excerpts —
    * where Jaccard under-scores (|A∩B|/|A∪B| shrinks with the size gap)
    * but C stays near 1. Keeps pairs whose larger-direction containment
    * clears `minContainment`; emits both directions so callers can tell
    * "A inside B" from "B inside A".
    *
    * Candidate generation here is the symmetric banded LSH
    * ([[nearDupCandidates]]), which recalls the high-Jaccard region; for
    * the extreme small-doc-inside-huge-doc case (Jaccard too low to
    * band-collide) pair generation should come from the exact-substring
    * span store ([[Spans]]) instead — this operator then verifies those
    * pairs identically. Cost is O(candidates), never O(n²). */
  def containmentVerified(df: DataFrame, textCol: String, idCol: String,
                          shingle: Int = 5, bands: Int = 4,
                          minContainment: Double = 0.9): DataFrame = {
    val a = s"${idCol}_a"
    val b = s"${idCol}_b"
    val grams = df.select(col(idCol).as("__gid"),
      array_distinct(Text.shinglesNative(Text.tokens(col(textCol)), shingle))
        .as("__sh"))
    nearDupCandidates(df, textCol, idCol, shingle, bands)
      .join(grams.select(col("__gid"), col("__sh").as("__sh_a")),
        col(a) === col("__gid")).drop("__gid")
      .join(grams.select(col("__gid"), col("__sh").as("__sh_b")),
        col(b) === col("__gid")).drop("__gid")
      .withColumn("__inter",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double"))
      .select(col(a), col(b),
        (col("__inter") / size(col("__sh_a"))).as("containment_a"),
        (col("__inter") / size(col("__sh_b"))).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= minContainment)
  }

  /** SoftDeDup-style duplication weights: instead of DROPPING near-dup
    * losers, every document is down-weighted by its duplication count —
    * weight = 1 / |cluster| over the connected components of the
    * near-dup graph, so each duplicated passage contributes one unit of
    * total training mass however many copies exist (singletons keep
    * weight 1.0). The soft alternative to the hard [[clusters]]-loser
    * anti-join: keeps the corpus intact for loss-weighting or
    * epoch-sampling consumers.
    *
    * Scale posture: [[clusters]]' O(log n)-round label propagation plus
    * one count shuffle on the cluster key and one id-keyed join back —
    * no new quadratic surface; the pair frame is the banded-LSH
    * minority. */
  def softDedupWeights(df: DataFrame, pairs: DataFrame, idCol: String,
                       aCol: String, bCol: String): DataFrame = {
    val cl = clusters(pairs, aCol, bCol)
      .select(col("node").as(idCol), col("cluster"))
    val assigned = df.select(col(idCol))
      .join(cl, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("cluster"))
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_dups"))
    assigned.join(sizes, Seq("cluster"))
      .select(col(idCol), col("cluster"), col("n_dups"),
        (lit(1.0) / col("n_dups")).as("weight"))
  }

  /** Per-document SimHash fingerprints (native codegen'd): near-identical
    * documents land within small Hamming distance; equal values are
    * near-dup candidates at one shuffle via groupBy(simhash). */
  def simhashes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // kernel floor (Par.widen): tokenize + the simhash majority vote
    // run inside the scan stage — a small single-row-group corpus
    // otherwise serializes the whole fingerprint pass on 1-2 tasks
    // (measured q78: a 0.7 s two-task kernel stage)
    Par.widen(df)
      .select(col(idCol), Text.simhashNative(Text.tokens(col(textCol))).as("simhash"))
  }

  /** Per-document 64-bit SimHash fingerprints (native codegen'd) — the
    * production width: bit i is the majority vote of md5-digest bit i
    * across tokens. Twice the collision resistance of [[simhashes]]
    * per band at the same band count. */
  def simhashes64(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    Par.widen(df) // the simhashes kernel floor, 64-bit path
      .select(col(idCol), Text.simhash64Native(Text.tokens(col(textCol))).as("simhash"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxHamming`,
    * via pigeonhole banding: the `bits`-wide fingerprint splits into
    * `maxHamming + 1` disjoint bit-bands, and any pair within the
    * distance budget must agree EXACTLY on at least one band — so
    * candidates come from one shuffle on (band, bits) with in-bucket
    * pair expansion (never a corpus self-join; both fingerprints ride
    * the bucket, so the popcount verify is join-free). Returns
    * (`idCol`_a, `idCol`_b, hamming) with a < b.
    *
    * Width: `bits = 64` (default) is the production fingerprint —
    * 16-bit bands at the default budget, 2^16 buckets per band, which
    * keeps expected bucket sizes sub-cap well past 10^9 documents.
    * `bits = 32` remains for parity with the md5-nibble oracle
    * (q23/q78); the banding algebra is identical at either width
    * (differential-pinned by DedupSimilaritySpec).
    *
    * Skew guard (same machinery as [[nearDupCandidates]]): a bucket
    * larger than `maxBucket` — a boilerplate template whose band bits
    * are shared by millions of near-identical documents — skips O(b²)
    * pair materialization and emits a STAR over the bucket's minimum
    * id, with the true Hamming distance to that minimum. In the
    * template case the colliding fingerprints are identical or
    * near-identical, so the star rows pass the Hamming filter and the
    * bucket resolves to one [[clusters]] component at O(b) cost;
    * members further than `maxHamming` from the bucket minimum are
    * only reachable through other bands/buckets (documented recall
    * bound — within-cap buckets remain exhaustively exact).
    *
    * Observability: because that recall bound is default-on, every run
    * reports how much the star path actually elided via a named
    * `observe` metric `graft_simhash_star_<n>` with fields `star_rows`
    * (members routed through the star path) and `elided` (star rows
    * beyond `maxHamming` of their bucket minimum — the members whose
    * pairs through that band were dropped). Read it from
    * `QueryExecution.observedMetrics` or a `QueryExecutionListener`;
    * `elided = 0` certifies the guard was free on that corpus. */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 3, bits: Int = 64,
                     maxBucket: Int = 1024): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 7,
      s"maxHamming must be in [1,7]: $maxHamming")
    require(bits == 32 || bits == 64, s"fingerprint width must be 32 or 64: $bits")
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    val bands = maxHamming + 1
    val width = bits / bands
    val a = s"${idCol}_a"
    val b = s"${idCol}_b"
    val sh = if (bits == 64) simhashes64(df, textCol, idCol)
             else simhashes(df, textCol, idCol)
    val bandBits = (0 until bands).map { bd =>
      val w = if (bd == bands - 1) bits - width * bd else width
      val mask = if (w == 64) lit(-1L) else lit((1L << w) - 1)
      shiftright(col("simhash"), width * bd).bitwiseAND(mask)
    }
    val win = Window.partitionBy(col("pos"), col("col"))
    val sized = sh
      .select(col(idCol), col("simhash"), posexplode(array(bandBits: _*)))
      .withColumn("__n", count(lit(1)).over(win))
      .withColumn("__mn", min(struct(col(idCol), col("simhash"))).over(win))
    val star = sized
      .filter(col("__n") > maxBucket && col(idCol) =!= col("__mn").getField(idCol))
      .select(col("__mn").getField(idCol).as(a), col(idCol).as(b),
        bit_count(col("__mn").getField("simhash").bitwiseXOR(col("simhash")))
          .cast("long").as("hamming"))
      // the skew guard's recall bound, made observable: star members
      // farther than maxHamming from their bucket minimum lose the pairs
      // this band would have given them — count them so callers can SEE
      // the loss instead of trusting the doc comment (metric name is
      // per-call unique; duplicate CollectMetrics names in one plan are
      // an analysis error)
      .observe(s"graft_simhash_star_${Dedup.starMetricSeq.incrementAndGet()}",
        count(lit(1)).as("star_rows"),
        sum(when(col("hamming") > maxHamming, 1L).otherwise(0L)).as("elided"))
    val smallPairs = sized
      .filter(col("__n") <= maxBucket && col("__n") > 1)
      .groupBy(col("pos"), col("col"))
      .agg(sort_array(collect_list(struct(col(idCol), col("simhash")))).as("__xs"))
      .select(explode(flatten(transform(col("__xs"), (x, i) =>
        transform(slice(col("__xs"), i + 2, size(col("__xs"))),
          y => struct(x.getField(idCol).as(a), y.getField(idCol).as(b),
            bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash")))
              .cast("long").as("hamming")))))).as("__p"))
      .select(col(s"__p.$a"), col(s"__p.$b"), col("__p.hamming"))
    smallPairs.union(star)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** One-call near-duplicate pruning — the composition a user reaches
    * for first: [[nearDupCandidates]] → [[clusters]] → keep each
    * cluster's minimum-id document, everything else dropped. Returns
    * the input frame minus the losers (all columns intact). Inherits
    * every scale property of its stages: skew-guarded banding, one
    * label frame of O(|docs in pairs|), and a final left-anti join
    * whose build side is loser-sized.
    *
    * ==Which near-dup pruner?==
    * Three one-call entry points share the candidates → clusters →
    * keep-winner shape but see different duplication (SURVEY §2.4):
    *
    * | entry point | representation | catches | misses | cost |
    * |---|---|---|---|---|
    * | [[pruneNearDups]] (this) | shingle MinHash (phrase structure) | verbatim + lightly-edited copies, shared long passages | rewordings that keep no w-gram | banded LSH, one text-side shuffle |
    * | [[graft.operators.DocEmbed.pruneNearDups]] | hashed BoW → sign projection (word multiset, order-free) | reordered / shuffled near-copies whose shingle Jaccard collapses but BoW cosine survives | true paraphrase with different words; loses phrase evidence | one BoW shuffle + one kernel pass + sign-LSH pairing |
    * | [[graft.operators.SemDedup.mark]] | caller-supplied MODEL embeddings | semantic duplicates (translations, paraphrase) to the encoder's resolution | anything the encoder conflates or misses; needs an embedding column | centroid assignment + in-cluster tiled pairs |
    *
    * All three are skew-guarded (star over over-cap buckets / tiled
    * in-cluster quadratics) and keep a deterministic winner. Run them
    * in that order when composing: each later member only pays for
    * what the cheaper one left behind. */
  def pruneNearDups(df: DataFrame, textCol: String, idCol: String,
                    shingle: Int = 5, bands: Int = 4,
                    maxBucket: Int = 1024): DataFrame = {
    val pairs = nearDupCandidates(df, textCol, idCol, shingle, bands, maxBucket)
    val losers = clusters(pairs, s"${idCol}_a", s"${idCol}_b")
      .where(col("cluster") =!= col("node"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[pruneNearDups]] with a QUALITY winner policy: each near-dup
    * cluster keeps its best row by (`scoreCol` desc, id asc) instead of
    * the arbitrary minimum id — what a curation pipeline actually wants
    * ("of the k crawled copies, keep the longest / highest-quality
    * one"). Rows outside any cluster survive untouched; a null score
    * loses to any non-null one (max ignores nulls).
    *
    * Scale: winner selection is two partial-aggregated groupBys on the
    * cluster id (max score, then min id among the maxima) — no
    * per-cluster window sort, so a boilerplate mega-cluster costs a
    * reduction, not a single-task sort. */
  def pruneNearDupsBy(df: DataFrame, textCol: String, idCol: String,
                      scoreCol: String, shingle: Int = 5, bands: Int = 4,
                      maxBucket: Int = 1024): DataFrame = {
    val pairs = nearDupCandidates(df, textCol, idCol, shingle, bands, maxBucket)
    val members = clusters(pairs, s"${idCol}_a", s"${idCol}_b")
      .select(col("node").as(idCol), col("cluster"))
      .join(df.select(col(idCol), col(scoreCol)), Seq(idCol))
    val best = members.groupBy(col("cluster"))
      .agg(max(col(scoreCol)).as("__ms"))
    val winners = members.join(best, Seq("cluster"))
      .filter(col(scoreCol) === col("__ms"))
      .groupBy(col("cluster")).agg(min(col(idCol)).as("__win"))
    val losers = members.join(winners, Seq("cluster"))
      .filter(col(idCol) =!= col("__win"))
      .select(col(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup pair list: every node gets the
    * MINIMUM id reachable from it as its `cluster` label — the step that
    * turns candidate pairs ([[nearDupCandidates]]) into dedup groups
    * ("keep one document per cluster").
    *
    * Iterative min-label propagation: each round every node takes the min
    * of its own label and its neighbors' labels (one join + one groupBy
    * per round), until a round changes nothing. Rounds needed = component
    * diameter; near-dup graphs are dense blobs of mutually-similar
    * documents, so diameters are tiny (2–3) regardless of corpus size and
    * the early rounds stay at that minimal cost. If propagation hasn't
    * converged after `escalateAfter` rounds (a high-diameter component —
    * adversarial chains, not dedup blobs), each further round adds a
    * pointer-jumping shortcut: `label(u) := label(label(u))` (one
    * self-join on the label frame), which halves remaining chain lengths
    * per round — the same O(log n) escalation large-star/small-star buys,
    * without maintaining a second edge-rewriting algorithm. Labels only
    * decrease and stay within the component in both steps, so the
    * decreasing-label-sum convergence witness still proves minimality:
    * a no-change propagate round forces per-edge label equality, i.e.
    * per-component constant = the component min.
    * The label frame is O(|nodes in pairs|) — NOT driver-bounded, so
    * unlike kmeans's collected centroids it stays distributed and each
    * round `localCheckpoint`s to keep lineage flat (the kmeans lesson,
    * applied to the case where collect would be wrong).
    *
    * Output: (`node`, `cluster`) for every node appearing in `pairs`. */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
               maxIters: Int = 30, escalateAfter: Int = 4): DataFrame = {
    // self-loops carry each node's own label through the propagation join,
    // so a round is join+groupBy with no per-round Union (a Union over a
    // checkpointed self-join trips Catalyst's constraint rewriting —
    // LogicalRDD constraints can reference pruned attributes).
    // The four directions (a,b), (b,a), (a,a), (b,b) come from ONE
    // explode over the pair frame, NOT a union of four selects: the
    // union form inlined the whole upstream pair subtree four times
    // into the checkpoint evaluation (q172's fuzzy join — plus its
    // broadcast builds — ran ~4x inside "compute the pair scan once";
    // r19 JobProf showed 11 separate 7 MB levenshtein scans). Same
    // edge multiset, one upstream evaluation.
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")),
        struct(col(aCol).as("src"), col(aCol).as("dst")),
        struct(col(bCol).as("src"), col(bCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .localCheckpoint() // probed every round; compute the pair scan once
    // initial labels fall out of the (distinct) self-loops for free —
    // every node appears as a self-loop src, so this is a narrow filter
    // over the checkpointed edges: no extra distinct, no extra job
    var labels = edges.where(col("src") === col("dst"))
      .select(col("src").as("node"), col("src").as("label"))
    // labels only ever decrease, so the label total is a strictly
    // decreasing convergence witness (decimal sum — ids can be near
    // Long.Max). The per-round sum rides the checkpoint job as an
    // Observation instead of costing its own aggregation job, so a round
    // is exactly ONE job.
    def decimalSum(row: org.apache.spark.sql.Row): java.math.BigDecimal =
      if (row.isNullAt(0)) java.math.BigDecimal.ZERO // empty pair list
      else row.getDecimal(0)
    var prevSum = decimalSum(
      labels.agg(sum(col("label").cast("decimal(38,0)"))).head)
    var converged = false
    var round = 0
    while (!converged && round < maxIters) {
      var next = labels.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
        .groupBy(col("node")).agg(min(col("label")).as("label"))
      if (round >= escalateAfter) {
        // pointer jumping: a label is always some node in the same
        // component, so label-of-label is too; left join + coalesce keeps
        // the invariant total (every label resolves — it IS a node id).
        // Fused into the same round plan: the propagate subplan appears
        // on both sides of the self-join and ReuseExchange computes its
        // shuffle once, so an escalated round still checkpoints once.
        next = next.as("l1")
          .join(next.as("l2"), col("l1.label") === col("l2.node"), "left")
          .select(col("l1.node").as("node"),
            least(col("l1.label"),
              coalesce(col("l2.label"), col("l1.label"))).as("label"))
      }
      val obs = org.apache.spark.sql.Observation()
      labels = next
        .observe(obs, sum(col("label").cast("decimal(38,0)")).as("s"))
        .localCheckpoint()
      val s = obs.get("s") match {
        case null => java.math.BigDecimal.ZERO // empty pair list
        case d: java.math.BigDecimal => d
        case other => new java.math.BigDecimal(other.toString)
      }
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      round += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusters: not converged after $maxIters rounds even with " +
          "pointer-jumping (component span > ~2^(maxIters-escalateAfter)) " +
          "— labels are non-minimal; raise maxIters")
    labels.select(col("node"), col("label").as("cluster"))
  }
}
