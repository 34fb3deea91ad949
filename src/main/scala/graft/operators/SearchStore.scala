package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** The INCREMENTAL member of the retrieval family — the "index is a
  * store too" symmetry with the dedup stores ([[Dedup.fingerprintStore]]
  * et al.): instead of a materialized score table that every append
  * would invalidate (BM25 weights depend on the GLOBAL N/avgdl/df, so
  * they all change when documents arrive), the store persists the raw
  * sufficient statistics —
  *
  *   - `<name>_postings`: (token, id, tf, dl), bucketed on `token`;
  *   - `<name>_docs`:     (id, dl),            bucketed on `id`
  *
  * — and [[search]] computes fresh BM25 at query time from whatever the
  * store currently holds: scores are never stale, appends never rewrite,
  * and a query touches only its own terms' buckets (bucket pruning on
  * the `token IN (...)` filter — spec-pinned; df comes from the probed
  * postings alone, N/avgdl from one narrow doc-store aggregate).
  * Commits follow the family's anti-join discipline: a crash-retry
  * double-commit cannot double tf rows, and re-appending a committed
  * snapshot is a no-op.
  */
object SearchStore {

  /** (token, id, tf, dl, positions) — the per-(term, doc) sufficient
    * statistics, POSITIONAL: `positions` holds the 0-based token offsets
    * of every occurrence, sorted ascending (per-group aggregate state is
    * doc-length-bounded). BM25 never reads the column — parquet column
    * pruning keeps the score path's scan at (token, id, tf, dl), so the
    * positional store costs the ranking queries nothing (spec-pinned);
    * phrase/proximity queries ([[phraseSearch]]) are what it buys. */
  def postings(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        coalesce(Text.tokens(col(textCol)), array().cast("array<string>"))
          .as("__tk"))
      .select(col("id"), size(col("__tk")).cast("long").as("dl"),
        // outer + isNotNull, NOT a bare posexplode: the non-outer form
        // trips InferFiltersFromGenerate, which inlines the tokenize
        // into a pre-Generate filter and runs split() twice per row
        posexplode_outer(col("__tk")).as(Seq("pos", "token")))
      .filter(col("token").isNotNull)
      .groupBy(col("token"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .select(col("token"), col("id"), col("tf"), col("dl"), col("positions"))

  /** (id, dl) for every document — token-less ones included (they count
    * in N and avgdl, the [[Bm25.weights]] convention). */
  def docLengths(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      coalesce(size(Text.tokens(col(textCol))), lit(0)).cast("long").as("dl"))

  /** Creates `<name>_postings` + `<name>_docs` + `<name>_termstats`
    * bucketed stores. Term stats (per-token max tf, min dl — the
    * max-score bound inputs) derive from the freshly written postings
    * table: a groupBy on the bucket key, so the aggregation is
    * exchange-free and never re-tokenizes the corpus. */
  def write(corpus: DataFrame, textCol: String, idCol: String,
            name: String, buckets: Int): Unit = {
    val spark = corpus.sparkSession
    graft.sinks.Bucketing.writeBucketed(
      postings(corpus, textCol, idCol), s"${name}_postings",
      Seq("token"), buckets)
    graft.sinks.Bucketing.writeBucketed(
      docLengths(corpus, textCol, idCol), s"${name}_docs",
      Seq("id"), buckets)
    graft.sinks.Bucketing.writeBucketed(
      spark.table(s"${name}_postings")
        .groupBy(col("token"))
        .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl")),
      s"${name}_termstats", Seq("token"), buckets)
  }

  /** The COMMIT step: appends a new snapshot's statistics, anti-joined
    * against the store first (docs on `id`, postings on (token, id)) so
    * double-commits cannot double term frequencies. Bucket layouts are
    * preserved; compact with
    * [[graft.sinks.Bucketing.compactBucketed]] as rounds accumulate. */
  def append(batch: DataFrame, textCol: String, idCol: String,
             name: String): Unit = {
    val spark = batch.sparkSession
    val (pt, tt, dt) = (s"${name}_postings", s"${name}_termstats", s"${name}_docs")
    // an interrupted swap completes before the anti-joins read the tables
    Seq(pt, dt).foreach(graft.sinks.Bucketing.spec(spark, _))
    // materialized once (batch-sized): feeds both the postings insert
    // and the termstats rows, and pins the anti-join against re-derive
    val newP = postings(batch, textCol, idCol)
      .join(spark.table(pt).select(col("token"), col("id")),
        Seq("token", "id"), "left_anti")
      .localCheckpoint()
    graft.sinks.Bucketing.append(newP, pt)
    // term stats are append-only rows aggregated at query time; deriving
    // them from the ANTI-JOINED postings keeps double-commits no-ops
    graft.sinks.Bucketing.append(newP
      .groupBy(col("token"))
      .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl")), tt)
    graft.sinks.Bucketing.append(docLengths(batch, textCol, idCol)
      .join(spark.table(dt).select(col("id")), Seq("id"), "left_anti"), dt)
  }

  /** Top-`k` documents by summed BM25 over `terms`, from pure frames —
    * the scoring algebra [[search]] runs against the store tables,
    * exposed for composition and the q119 oracle. Per-term weights are
    * the [[Bm25.weights]] formula (rounded 6 dp), summed per document
    * and re-rounded; ties break on the id. The top-k is a distributed
    * TakeOrdered heap, never a global sort. */
  def searchFrames(postings: DataFrame, docLens: DataFrame,
                   terms: Seq[String], k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k >= 1, s"k must be positive: $k")
    val probed = postings.filter(col("token").isin(terms: _*))
    val stats = docLens.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val dft = probed.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreDocs(probed, dft, stats, k1, b)
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** idf over a (df, n_docs) row — the [[Bm25.weights]] formula. */
  private def idfCol: Column =
    log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)

  /** Exact per-doc BM25 over a (subset of) probed postings; df/stats
    * MUST cover the FULL probe so subset scores equal full-run scores. */
  private def scoreDocs(probed: DataFrame, dft: DataFrame, stats: DataFrame,
                        k1: Double, b: Double): DataFrame =
    probed
      .join(broadcast(dft), "token")
      .crossJoin(broadcast(stats))
      .select(col("id"),
        round(idfCol * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
          .as("__w"))
      .groupBy(col("id"))
      .agg(round(sum(col("__w")), 6).as("score"),
        count(lit(1)).as("n_terms"))

  /** [[searchFrames]] over the persisted store: only `terms`' buckets of
    * the postings table are read (bucket pruning), df covers exactly the
    * probed terms, and N/avgdl come from one narrow doc-store pass —
    * query cost scales with the TERMS, not the corpus. */
  def search(spark: SparkSession, name: String, terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchFrames(spark.table(s"${name}_postings"),
      spark.table(s"${name}_docs"), terms, k, k1, b)

  /** Top-`k` documents containing the exact token `phrase`, with the
    * occurrence count — positional intersection over the postings:
    * phrase slot i's positions are shifted by −i, and the intersection
    * of all shifted arrays is exactly the set of match START offsets
    * (overlapping matches included — "a a a" matches "a a" twice).
    *
    * The probe reads only the phrase's tokens' rows (bucket-pruned on a
    * store table, same as [[search]]); each candidate doc's work is one
    * ordered fold of `array_intersect` over its ≤ |phrase| shifted
    * arrays (slot-sorted — one defined order), so per-doc state is
    * doc-length-bounded and the shuffle carries phrase-term postings,
    * never the corpus. Duplicate phrase tokens are handled by slot
    * identity: each slot joins the token's single posting row, docs
    * must cover ALL slots. Ranking = occurrences desc, id tiebreak, via
    * a distributed TakeOrdered heap. */
  def phraseSearchFrames(postings: DataFrame, phrase: Seq[String],
                         k: Int): DataFrame = {
    require(phrase.nonEmpty, "need a non-empty phrase")
    require(k >= 1, s"k must be positive: $k")
    val spark = postings.sparkSession
    import spark.implicits._
    val slots = phrase.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("__slot", "token")
    val probed = postings.filter(col("token").isin(phrase.distinct: _*))
    probed.join(broadcast(slots), "token")
      .select(col("id"), col("__slot"),
        transform(col("positions"), p => p - col("__slot")).as("__sp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__nslots"),
        array_sort(collect_list(struct(col("__slot"), col("__sp"))))
          .as("__sl"))
      .filter(col("__nslots") === phrase.length)
      .select(col("id"),
        transform(col("__sl"), s => s.getField("__sp")).as("__arrs"))
      .select(col("id"),
        size(aggregate(
          slice(col("__arrs"), 2, phrase.length - 1),
          element_at(col("__arrs"), 1),
          (acc, x) => array_intersect(acc, x))).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("n_matches").desc, col("id"))
      .limit(k)
  }

  /** [[phraseSearchFrames]] over the persisted store — the phrase reads
    * only its own tokens' buckets. */
  def phraseSearch(spark: SparkSession, name: String, phrase: Seq[String],
                   k: Int): DataFrame =
    phraseSearchFrames(spark.table(s"${name}_postings"), phrase, k)

  /** Conjunctive (boolean AND) retrieval ranked by PROXIMITY: documents
    * containing every query term, ordered by their minimal cover span —
    * the length of the shortest token window holding at least one
    * occurrence of each term (1 + max−min over one occurrence choice
    * per term, minimized). The classic positional-index query the
    * phrase operator generalizes to unordered terms.
    *
    * Shape at scale: the probe reads only the query terms' buckets
    * (same pruning as [[searchFrames]]); per doc, the span is ONE
    * sorted sweep over the doc's own occurrences — merge the per-term
    * position lists, walk them once keeping the latest occurrence per
    * term, close a candidate window at every step once all terms have
    * been seen. All inside codegen'd higher-order functions with
    * doc-length-bounded state; the top-k is a TakeOrdered heap. */
  def proximitySearchFrames(postings: DataFrame, terms: Seq[String],
                            k: Int): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    require(terms.distinct == terms, s"terms must be distinct: $terms")
    require(k >= 1, s"k must be positive: $k")
    val spark = postings.sparkSession
    import spark.implicits._
    val n = terms.length
    val slots = terms.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("__slot", "token")
    val probed = postings.filter(col("token").isin(terms: _*))
    val seenInit = typedlit(Seq.fill(n)(-1))
    probed.join(broadcast(slots), "token")
      .select(col("id"), col("__slot"), col("positions"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__nslots"),
        array_sort(flatten(collect_list(
          // (pos, slot) merge stream; array_sort orders by pos, slot
          transform(col("positions"),
            p => struct(p.as("pos"), col("__slot").as("slot"))))))
          .as("__occ"))
      .filter(col("__nslots") === n)
      .select(col("id"),
        aggregate(col("__occ"),
          struct(seenInit.as("last"), lit(Int.MaxValue).as("best")),
          (acc, x) => {
            val last = transform(sequence(lit(0), lit(n - 1)),
              i => when(i === x.getField("slot"), x.getField("pos"))
                .otherwise(element_at(acc.getField("last"), i + 1)))
            val best = when(!array_contains(last, -1),
                least(acc.getField("best"),
                  x.getField("pos") - array_min(last) + 1))
              .otherwise(acc.getField("best"))
            struct(last.as("last"), best.as("best"))
          },
          acc => acc.getField("best"))
          .cast("long").as("span"))
      .filter(col("span") =!= Int.MaxValue.toLong)
      .orderBy(col("span"), col("id"))
      .limit(k)
  }

  /** [[proximitySearchFrames]] over the persisted store — reads only
    * the query terms' buckets. */
  def proximitySearch(spark: SparkSession, name: String, terms: Seq[String],
                      k: Int): DataFrame =
    proximitySearchFrames(spark.table(s"${name}_postings"), terms, k)

  /** ORDERED proximity ("sloppy phrase") retrieval: documents where the
    * query terms occur IN ORDER, ranked by the minimal ordered span
    * (last − first + 1 over one in-order occurrence chain, minimized) —
    * between exact phrase match (span = |terms|) and unordered
    * [[proximitySearchFrames]]. Same probe/bucket/heap shape; per doc
    * the span is the classic one-pass chain sweep over the merged
    * sorted occurrences: at an occurrence of slot i, the best chain
    * ending here starts where the best prefix-chain through slot i−1
    * started (positions arrive in ascending order, so that prefix start
    * is already the latest viable one); completing slot n−1 closes a
    * candidate span. Doc-length-bounded state, codegen'd HOFs. */
  def orderedProximitySearchFrames(postings: DataFrame, terms: Seq[String],
                                   k: Int): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    require(terms.distinct == terms, s"terms must be distinct: $terms")
    require(k >= 1, s"k must be positive: $k")
    val spark = postings.sparkSession
    import spark.implicits._
    val n = terms.length
    val slots = terms.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("__slot", "token")
    val probed = postings.filter(col("token").isin(terms: _*))
    // state: per slot, the best (latest) chain-start position of an
    // in-order chain covering slots 0..i whose last occurrence is
    // before the current position; -1 = no such chain yet
    val startInit = typedlit(Seq.fill(n)(-1))
    probed.join(broadcast(slots), "token")
      .select(col("id"), col("__slot"), col("positions"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__nslots"),
        array_sort(flatten(collect_list(
          transform(col("positions"),
            p => struct(p.as("pos"), col("__slot").as("slot"))))))
          .as("__occ"))
      .filter(col("__nslots") === n)
      .select(col("id"),
        aggregate(col("__occ"),
          struct(startInit.as("starts"), lit(Int.MaxValue).as("best")),
          (acc, x) => {
            val starts = acc.getField("starts")
            val chainStart = when(x.getField("slot") === 0, x.getField("pos"))
              .otherwise(element_at(starts, x.getField("slot")))
            val updated = transform(sequence(lit(0), lit(n - 1)),
              i => when(i === x.getField("slot"),
                  greatest(chainStart, element_at(starts, i + 1)))
                .otherwise(element_at(starts, i + 1)))
            val best = when(
                x.getField("slot") === n - 1 && chainStart =!= -1,
                least(acc.getField("best"), x.getField("pos") - chainStart + 1))
              .otherwise(acc.getField("best"))
            struct(updated.as("starts"), best.as("best"))
          },
          acc => acc.getField("best"))
          .cast("long").as("span"))
      .filter(col("span") =!= Int.MaxValue.toLong)
      .orderBy(col("span"), col("id"))
      .limit(k)
  }

  /** [[orderedProximitySearchFrames]] over the persisted store. */
  def orderedProximitySearch(spark: SparkSession, name: String,
                             terms: Seq[String], k: Int): DataFrame =
    orderedProximitySearchFrames(spark.table(s"${name}_postings"), terms, k)

  /** Margin absorbing the 6-dp rounding of per-term weights (≤ 5e-7
    * each) when comparing an UNROUNDED upper bound against a rounded
    * exact score — generous for any realistic term count. */
  private val UbEps = 1e-4

  /** Uniqifier for the pruning observe metric (duplicate CollectMetrics
    * names in one plan are an analysis error). */
  private val maxScoreMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Top-`k` BM25 — same answer as [[searchFrames]], pinned — via
    * max-score dynamic pruning (Turtle & Flood 1995; the batch
    * translation of WAND block skipping): per-token score CEILINGS from
    * the persisted term stats prune documents that cannot enter the
    * top-k, so the expensive per-doc aggregation runs over a fraction
    * of the matched docs when terms are skewed (one rare + several
    * stopword-ish terms — exactly the corpus-scale shape, where the
    * stopword's posting list is the cost).
    *
    * UB_t = idf_t · (k1+1)·max_tf / (max_tf + k1·(1−b + b·min_dl/avgdl))
    * bounds every (tf, dl) in t's postings (the weight is monotone ↑ in
    * tf, ↓ in dl). Phase 1 scores EXACTLY the docs matching the
    * highest-UB term (the rare one — its postings are the short list)
    * and takes the k-th score as the threshold θ; phase 2 keeps, of the
    * remaining matched docs, only those whose Σ matched-term UBs clears
    * θ − ε, and scores them exactly. A doc pruned by phase 2 satisfies
    * score ≤ Σ UB < θ, so it ranks strictly below k phase-1 docs —
    * equality with the unpruned path holds INCLUDING ties (pinned).
    * Driver state: |terms| bounds + k threshold scores. Tokens absent
    * from `termstats` get UB = ∞ (never pruned) — the store's own
    * tables always cover every posting token.
    *
    * Fewer than k phase-1 candidates ⇒ θ is undefined and the search
    * falls back to the unpruned path (same answer, no pruning). */
  def maxScoreSearchFrames(postings: DataFrame, docLens: DataFrame,
                           termstats: DataFrame, terms: Seq[String], k: Int,
                           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k >= 1, s"k must be positive: $k")
    // the search runs THREE driver actions (ceiling collect, seed-k
    // collect, final top-k), and `probed`/`stats`/`dft` are referenced
    // from every phase — un-pinned, each action re-ran the whole
    // posting build / doc-length scan per reference (the r18 plan dump
    // was 1475 lines of the same subtree inlined; guide §3.3:
    // materialize the intermediate to truncate the plan). `probed` is
    // terms-bounded, `stats` one row, `dft` |terms| rows.
    val probed = postings.filter(col("token").isin(terms: _*))
      .localCheckpoint()
    val stats = docLens.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl")).localCheckpoint()
    val dft = probed.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val unpruned = scoreDocs(probed, dft, stats, k1, b)
      .orderBy(col("score").desc, col("id")).limit(k)
    // per-term ceilings (terms-bounded driver state); append-only stats
    // rows aggregate here (max of maxes / min of mins)
    val ubRows = termstats.filter(col("token").isin(terms: _*))
      .groupBy(col("token"))
      .agg(max(col("max_tf")).as("mtf"), min(col("min_dl")).as("mdl"))
      .join(broadcast(dft), "token")
      .crossJoin(broadcast(stats))
      .select(col("token"),
        (idfCol * (col("mtf") * (k1 + 1)) /
          (col("mtf") + lit(k1) * (lit(1 - b) + lit(b) * col("mdl") / col("avgdl"))))
          .as("ub"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    if (ubRows.isEmpty) return unpruned
    val seedTerm = ubRows.maxBy { case (t, u) => (u, t) }._1
    val seedIds = probed.filter(col("token") === seedTerm).select(col("id"))
    val seedScored = scoreDocs(
      probed.join(seedIds, Seq("id"), "left_semi"), dft, stats, k1, b)
    val topSeed = seedScored
      .orderBy(col("score").desc, col("id")).limit(k).collect()
    if (topSeed.length < k) return unpruned
    val theta = topSeed.last.getAs[Double]("score")
    val ubOf = coalesce(
      element_at(typedlit(ubRows), col("token")), lit(Double.MaxValue))
    val survivors = probed.join(seedIds, Seq("id"), "left_anti")
      .groupBy(col("id")).agg(sum(ubOf).as("__ub"))
      .filter(col("__ub") >= lit(theta - UbEps))
      .select(col("id"))
    scoreDocs(probed.join(survivors, Seq("id"), "left_semi"),
        dft, stats, k1, b)
      .unionByName(seedScored)
      // scored_docs counts the docs that actually reached exact scoring
      // — the pruning observability (read it off the collected frame's
      // own queryExecution; metric name graft_maxscore_<n>)
      .observe(s"graft_maxscore_${maxScoreMetricSeq.incrementAndGet()}",
        count(lit(1)).as("scored_docs"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** [[maxScoreSearchFrames]] over the persisted store tables. */
  def maxScoreSearch(spark: SparkSession, name: String, terms: Seq[String],
                     k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    maxScoreSearchFrames(spark.table(s"${name}_postings"),
      spark.table(s"${name}_docs"), spark.table(s"${name}_termstats"),
      terms, k, k1, b)
}
