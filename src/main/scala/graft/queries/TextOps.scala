package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text

/** LLM-data-pipeline text operators over `documents` (SURVEY.md §2.3):
  * exact dedup, MinHash/LSH near-dup candidate generation, SimHash,
  * token statistics, quality scoring, n-gram Jaccard, language ID.
  *
  * Everything is md5-based (graft.functions.Text) so the DuckDB oracle can
  * reproduce results bit-for-bit; everything stays in codegen'd built-ins
  * (no UDFs) and shuffles only on its group/join keys.
  *
  * Scale posture: the near-dup path is banded LSH — per-doc signatures,
  * then a groupBy/join on (band, sig). At 100 TB that is a single shuffle
  * on the signature key with bounded group sizes (the all-pairs O(n^2)
  * form is confined to q27, a demo explicitly capped to a fixed id range;
  * the LSH form is the production path).
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** DuckDB-side tokenization identical to Text.tokens. */
  private val dTok = "list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)"
  /** DuckDB twin of Extract.dropNonContent (same patterns, 'g' flag). */
  private def dDropNonContent(expr: String): String = {
    val dropped = graft.operators.Extract.DroppedContainers
      .foldLeft(expr)((acc, t) =>
        s"regexp_replace($acc, '(?is)<$t(?:\\s[^>]*)?>.*?</$t\\s*>', ' ', 'g')")
    s"regexp_replace($dropped, '(?s)<!--.*?-->', ' ', 'g')"
  }
  /** DuckDB-side n-shingles identical to Text.shingles(tk, n). */
  private def dShingles(tk: String, n: Int): String =
    s"CASE WHEN len($tk) >= $n THEN list_transform(range(1, len($tk) - $n + 2), " +
      s"i -> array_to_string(list_slice($tk, i, i + ${n - 1}), ' ')) ELSE []::VARCHAR[] END"

  // -- q20: exact dedup by normalized-text fingerprint --
  private val q20: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    docs(s, dir)
      .select($"doc_id", Text.fingerprint($"text").as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"fp")
  }
  private val q20Sql =
    """SELECT doc_id, fp FROM (
      |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    row_number() OVER (
      |      PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |      ORDER BY doc_id) AS rn
      |  FROM documents) WHERE rn = 1""".stripMargin

  /** Shared MinHash signature frame: doc_id, band (1..4), sig.
    *
    * Two-stage projection on purpose: the digest array is materialized by
    * its own project and referenced 4 times by the band extractors —
    * Catalyst keeps the stages separate (CollapseProject won't duplicate a
    * non-cheap alias), so every shingle is hashed exactly once. */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(s)
    // All four band signatures come from ONE native codegen'd call per
    // document (shingle -> md5 once -> min per 32-bit digest slice);
    // the composable staged form is kept in Text and pinned equal by
    // TextVectorsSpec.
    docs(s, dir)
      .select($"doc_id", Text.tokens($"text").as("tk"))
      .select($"doc_id", posexplode(Text.minhashBandsNative($"tk", 5, 4)))
      .select($"doc_id", ($"pos" + 1).as("band"), $"col".as("sig"))
      .filter($"sig".isNotNull)
  }
  private def minhashSigsSql: String = dSigsFrom("documents")

  // -- q21: MinHash band signatures (LSH) --
  private val q21: Q = (s, dir) => minhashSigs(s, dir)
  private val q21Sql = minhashSigsSql

  // -- q22: near-dup candidate pairs via banded LSH bucket grouping --
  // One shuffle (groupBy band+sig), pairs generated inside each bucket;
  // the signature frame is computed ONCE (a self-join would compute it
  // twice and shuffle both copies). Bucket sizes are LSH-bounded, so the
  // collect_list stays small at any scale; skewed buckets (boilerplate
  // dups) are exactly the docs a dedup wants to find anyway.
  private val q22: Q = (s, dir) => {
    import s.implicits._
    minhashSigs(s, dir)
      .groupBy($"band", $"sig")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .filter(size($"ids") > 1)
      .select(explode(flatten(transform($"ids", (a, i) =>
        transform(slice($"ids", i + 2, size($"ids")),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select($"p.doc_a", $"p.doc_b")
      .distinct()
  }
  private val q22Sql =
    s"""WITH sigs AS ($minhashSigsSql)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
       |WHERE a.doc_id < b.doc_id""".stripMargin

  // -- q62: near-dup clusters — connected components over the q22 pairs.
  // Each document gets the minimum doc_id reachable through the near-dup
  // graph ("keep one per cluster" is then a trivial filter). Spark side:
  // Dedup.clusters min-label propagation (per-round localCheckpoint,
  // O(diameter) rounds). Oracle: DuckDB recursive-CTE transitive closure
  // + min over reachable nodes — an independent algorithm computing the
  // same fixpoint, which makes the hash match a strong check. --
  private val q62: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Dedup.clusters(q22(s, dir), "doc_a", "doc_b")
      .select($"node".as("doc_id"), $"cluster")
  }
  private val q62Sql =
    s"""WITH RECURSIVE
       |pairs AS ($q22Sql),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |members AS (
       |  SELECT src AS node, dst AS m FROM reach
       |  UNION ALL
       |  SELECT src, src FROM edges)
       |SELECT node AS doc_id, min(m) AS cluster FROM members GROUP BY node""".stripMargin

  // -- q64: the full training-data prep pipeline in one declarative plan:
  // exact dedup (fingerprint winners) -> near-dup pruning (only each
  // LSH-cluster's min-id representative survives) -> quality filter
  // (token count + type-token ratio) -> repetition gate (dup/top n-gram
  // ceilings, the same operators.Repetition the streaming DocPrep uses)
  // -> content-addressed split. This is the workload the §2.3 operators
  // exist for, composed end-to-end from the library ops — Catalyst sees
  // one plan and prunes/pushes across all five stages. The oracle
  // rebuilds the same pipeline as SQL CTEs over the shared fragments,
  // recursive closure included; the repetition stage reuses q70's
  // explode+group-by formulation, so native kernel == SQL is re-checked
  // inside the composition too. --
  private val q64: Q = (s, dir) => {
    import s.implicits._
    val exact = graft.operators.Dedup.exactByText(docs(s, dir), "text", "doc_id")
    val clusters = graft.operators.Dedup.clusters(q22(s, dir), "doc_a", "doc_b")
    val losers = clusters.where($"cluster" =!= $"node").select($"node".as("doc_id"))
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
    val scored = graft.operators.Quality.filter(deduped, "text")
    // repetition gate (same operator the streaming DocPrep uses);
    // ceilings sized so it bites on this corpus (~p90 of top_fraction)
    val unrep = graft.operators.Repetition.filter(scored, "text",
      maxDupFraction = 0.05, maxTopFraction = 0.05)
    graft.operators.Splits.assign(unrep, "doc_id")
      .select($"doc_id", $"n_tokens", $"split")
  }
  private val q64Sql =
    s"""WITH RECURSIVE
       |exact AS ($q20Sql),
       |pairs AS ($q22Sql),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |members AS (
       |  SELECT src AS node, dst AS m FROM reach
       |  UNION ALL SELECT src, src FROM edges),
       |clusters AS (SELECT node, min(m) AS cluster FROM members GROUP BY node),
       |survivors AS (
       |  SELECT e.doc_id FROM exact e
       |  WHERE NOT EXISTS (SELECT 1 FROM clusters c
       |                    WHERE c.node = e.doc_id AND c.cluster <> c.node)),
       |scored AS (
       |  SELECT d.doc_id, len(tk) AS n_tokens,
       |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
       |  FROM (SELECT doc_id, $dTok AS tk FROM documents) d
       |  JOIN survivors s ON d.doc_id = s.doc_id),
       |kept AS (SELECT doc_id, n_tokens FROM scored
       |         WHERE n_tokens >= 10 AND ttr >= 0.2),
       |repg AS (SELECT doc_id, unnest(${dShingles(dTok, 3)}) AS gram FROM documents),
       |repc AS (SELECT doc_id, gram, count(*) AS cnt FROM repg GROUP BY 1, 2),
       |repst AS (SELECT doc_id, sum(cnt) AS total, count(*) AS dst, max(cnt) AS mx
       |          FROM repc GROUP BY 1),
       |unrep AS (
       |  SELECT k.doc_id, k.n_tokens FROM kept k LEFT JOIN repst r USING (doc_id)
       |  WHERE COALESCE((r.total - r.dst) / r.total::DOUBLE, 0.0) <= 0.05
       |    AND COALESCE(r.mx / r.total::DOUBLE, 0.0) <= 0.05)
       |SELECT doc_id, n_tokens,
       |  CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, n_tokens,
       |        TRY_CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
       |      FROM unrep)""".stripMargin

  // -- q65: sequence packing — greedy first-fit token shards at a 2048
  // budget (the pre-tokenization shard layout for training data). Spark
  // side: Prefix.packIntoShards, the two-pass distributed prefix sum
  // (no data-sized global window; PrefixSpec pins the plan). Oracle: the
  // plain global-window cumsum, which DuckDB can afford single-node. --
  private val q65: Q = (s, dir) => {
    import s.implicits._
    val toks = docs(s, dir)
      .select($"doc_id", Text.tokens($"text").as("tk"))
      .select($"doc_id", size($"tk").cast("long").as("n_tokens"))
    graft.operators.Prefix.packIntoShards(toks, "doc_id", "n_tokens", budget = 2048L)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("tok_sum"))
  }
  private val q65Sql =
    s"""WITH t AS (SELECT doc_id, len($dTok) AS n_tokens FROM documents),
       |runs AS (SELECT doc_id, n_tokens,
       |  sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS run_start
       |  FROM t)
       |SELECT CAST(floor(run_start / 2048) AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_sum
       |FROM runs GROUP BY 1""".stripMargin

  // -- q66: corpus mixing — en documents kept whole, every other
  // language down-sampled to 25%, membership content-addressed (Mix):
  // reproducible across reruns/cluster sizes, zero shuffles for the
  // sampling itself. Oracle reproduces the salted md5 bucket exactly. --
  private val q66: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    graft.operators.Mix.corpora(Seq(
      ("en", d.where($"lang" === "en"), 1.0),
      ("rest", d.where($"lang" =!= "en"), 0.25)), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
  }
  private val q66Sql =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN lang = 'en' THEN 'en' ELSE 'rest' END AS source,
      |    TRY_CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) ||
      |      ':' || CASE WHEN lang = 'en' THEN 'en' ELSE 'rest' END), 1, 8)
      |      AS BIGINT) % 10000 AS bk
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM b
      |WHERE (source = 'en' AND bk < 10000) OR (source = 'rest' AND bk < 2500)
      |GROUP BY source""".stripMargin

  // -- q23: SimHash fingerprints (native codegen'd expression) --
  private val q23: Q = (s, dir) => {
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(s)
    docs(s, dir)
      .select($"doc_id", Text.simhashNative(Text.tokens($"text")).as("simhash"))
  }
  private val q23Sql = {
    val hexOnes = "('8','9','a','b','c','d','e','f')"
    val terms = (0 until 32).map { i =>
      s"CASE WHEN 2 * len(list_filter(dg, d -> substring(d, ${i + 1}, 1) IN $hexOnes)) > n " +
        s"THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""SELECT doc_id, $terms AS simhash
       |FROM (SELECT doc_id, list_transform($dTok, t -> md5(t)) AS dg, len($dTok) AS n
       |      FROM documents)""".stripMargin
  }

  // -- q24: per-language token statistics --
  private val q24: Q = (s, dir) => {
    import s.implicits._
    docs(s, dir)
      .select($"lang", size(Text.tokens($"text")).as("n"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n").cast("long").as("n_tokens"),
        min($"n").cast("long").as("min_tokens"),
        max($"n").cast("long").as("max_tokens"))
  }
  private val q24Sql =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len($dTok)) AS BIGINT) AS n_tokens,
       |  min(len($dTok)) AS min_tokens, max(len($dTok)) AS max_tokens
       |FROM documents GROUP BY lang""".stripMargin

  // -- q25: per-doc quality signals (type-token ratio, stopword ratio) --
  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val q25: Q = (s, dir) => {
    import s.implicits._
    val tk = $"tk"
    docs(s, dir)
      .select($"doc_id", Text.tokens($"text").as("tk")) // staged: 6 refs below
      .select(
        $"doc_id",
        size(tk).cast("long").as("n_tokens"),
        size(array_distinct(tk)).cast("long").as("n_uniq"),
        (size(filter(tk, t => t.isin(stopwords: _*))).cast("double") / size(tk)).as("stop_ratio"),
        (size(array_distinct(tk)).cast("double") / size(tk)).as("ttr"))
  }
  private val q25Sql = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_uniq,
       |  CAST(len(list_filter(tk, t -> t IN ($stopList))) AS DOUBLE) / len(tk) AS stop_ratio,
       |  CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
       |FROM (SELECT doc_id, $dTok AS tk FROM documents)""".stripMargin
  }

  // -- q26: marker-word language ID heuristic --
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "una", "y"))
  private val q26: Q = (s, dir) => {
    import s.implicits._
    def score(ws: Seq[String]): Column = size(filter($"tk", t => t.isin(ws: _*)))
    val Seq(en, de, fr, es) = markers.map { case (_, ws) => score(ws) }
    val pred = when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    docs(s, dir)
      .select($"doc_id", $"lang", Text.tokens($"text").as("tk")) // staged: 8 score refs
      .select($"doc_id", pred.as("pred"), $"lang", (pred === $"lang").as("agree"))
  }
  private val q26Sql = {
    def sc(ws: Seq[String]) =
      s"len(list_filter(tk, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"
    val Seq(en, de, fr, es) = markers.map { case (_, ws) => sc(ws) }
    s"""SELECT doc_id,
       |  CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |       WHEN $de >= $fr AND $de >= $es THEN 'de'
       |       WHEN $fr >= $es THEN 'fr'
       |       ELSE 'es' END AS pred,
       |  lang,
       |  (CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |        WHEN $de >= $fr AND $de >= $es THEN 'de'
       |        WHEN $fr >= $es THEN 'fr'
       |        ELSE 'es' END) = lang AS agree
       |FROM (SELECT doc_id, lang, $dTok AS tk FROM documents)""".stripMargin
  }

  // -- q27: n-gram Jaccard similarity (all-pairs demo, capped id range) --
  private val q27: Q = (s, dir) => {
    import s.implicits._
    val base = docs(s, dir).filter($"doc_id" < 200)
      .select($"doc_id", Text.tokens($"text").as("tk")) // staged for the shingle slicer
      .select($"doc_id", array_distinct(Text.shingles($"tk", 3)).as("sh"))
    // kernel floor (Par.widen) on the BNLJ stream side: the per-pair
    // intersect/union math runs there, single-task off a one-file scan
    val a = graft.operators.Par.widen(base).toDF("doc_a", "sh_a")
    val b = base.toDF("doc_b", "sh_b")
    a.join(b, $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        (size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size(array_union($"sh_a", $"sh_b"))).as("jaccard"))
      .filter($"jaccard" >= 0.2)
  }
  private val q27Sql =
    s"""WITH s AS (
       |  SELECT doc_id, list_distinct(${dShingles(dTok, 3)}) AS sh
       |  FROM documents WHERE doc_id < 200)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2""".stripMargin

  // -- q28: BPE-ish subword frequency table (token counting for LLM prep) --
  // explode + groupBy.count is the canonical distributed term-count: the
  // map side pre-aggregates, so the shuffle carries (token, partial n),
  // not the exploded rows.
  private val q28: Q = (s, dir) => {
    import s.implicits._
    docs(s, dir)
      .select(explode(Text.bpeTokens($"text")).as("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok".asc)
      .limit(50)
  }
  private val q28Sql =
    """SELECT tok, count(*) AS n FROM (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
      |  FROM documents)
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin

  // -- q29: rolling polynomial fingerprint (order-sensitive dedup key) --
  private val q29: Q = (s, dir) => {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", Text.tokens($"text").as("tk"))
      .select($"doc_id", Text.rollingFingerprint($"tk").as("rfp"))
  }
  private val q29Sql =
    s"""SELECT doc_id,
       |  CASE WHEN len(tk) = 0 THEN 0
       |       ELSE list_reduce(
       |         list_transform(tk, t -> TRY_CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 2147483647),
       |         (a, x) -> (a * 31 + x) % 2147483647)
       |  END AS rfp
       |FROM (SELECT doc_id, $dTok AS tk FROM documents)""".stripMargin

  // -- q52: content-addressed train/val/test split (operators.Splits) --
  private val q52: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Splits.assign(docs(s, dir), "doc_id")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
  }
  private val q52Sql =
    """WITH b AS (
      |  SELECT doc_id,
      |    TRY_CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
      |  FROM documents)
      |SELECT CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM b GROUP BY 1""".stripMargin

  // -- q69: benchmark decontamination — per-doc n-gram overlap against a
  // held-out "benchmark" slice (doc_id % 97 == 0, excluded from the
  // corpus side). The Spark plan is the NARROW literal-array-intersect
  // form (operators.Decontam; zero shuffles); the oracle recomputes the
  // same stats via unnest + join + group-by — a cross-formulation check.
  // 3-grams (not the production 13) so the synthetic word-soup corpus
  // actually produces a contamination distribution worth checking.
  private val q69: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val bench = d.filter($"doc_id" % 97 === 0)
    graft.operators.Decontam.overlapStats(
      d.filter($"doc_id" % 97 =!= 0), bench,
      textCol = "text", idCol = "doc_id", n = 3, threshold = 0.05)
      .select($"doc_id", $"n_grams", $"matched", $"contamination", $"contaminated")
  }
  private val q69Sql = {
    val tk = dTok
    s"""WITH bench_grams AS (
       |  SELECT DISTINCT unnest(${dShingles(tk, 3)}) AS gram
       |  FROM documents WHERE doc_id % 97 = 0),
       |corpus AS (
       |  SELECT doc_id, list_distinct(${dShingles(tk, 3)}) AS grams
       |  FROM documents WHERE doc_id % 97 <> 0),
       |m AS (
       |  SELECT c.doc_id, count(*) AS matched
       |  FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus) c
       |  JOIN bench_grams b USING (gram) GROUP BY 1)
       |SELECT c.doc_id, len(c.grams)::BIGINT AS n_grams,
       |  COALESCE(m.matched, 0)::BIGINT AS matched,
       |  CASE WHEN len(c.grams) > 0
       |    THEN COALESCE(m.matched, 0) / len(c.grams)::DOUBLE ELSE 0.0 END
       |    AS contamination,
       |  CASE WHEN len(c.grams) > 0
       |    THEN COALESCE(m.matched, 0) / len(c.grams)::DOUBLE ELSE 0.0 END > 0.05
       |    AS contaminated
       |FROM corpus c LEFT JOIN m ON c.doc_id = m.doc_id""".stripMargin
  }

  // -- q70: intra-doc repetition signals (Gopher-style dup/top n-gram
  // fractions). Spark side is the zero-shuffle sorted-run fold
  // (operators.Repetition); the oracle is the explode + two-level
  // group-by formulation — again a genuine cross-formulation
  // differential. Fractions are raw IEEE divisions of the same integers
  // on both engines, so they hash-match without rounding.
  private val q70: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Repetition.signals(docs(s, dir), "text", n = 3)
      .select($"doc_id", $"total_grams", $"distinct_grams",
        $"dup_fraction", $"top_fraction")
  }
  private val q70Sql = {
    val tk = dTok
    s"""WITH g AS (
       |  SELECT doc_id, unnest(${dShingles(tk, 3)}) AS gram FROM documents),
       |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
       |st AS (SELECT doc_id, sum(cnt) AS total, count(*) AS dst, max(cnt) AS mx
       |       FROM c GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(st.total, 0)::BIGINT AS total_grams,
       |  COALESCE(st.dst, 0)::BIGINT AS distinct_grams,
       |  CASE WHEN st.total > 0
       |    THEN (st.total - st.dst) / st.total::DOUBLE ELSE 0.0 END AS dup_fraction,
       |  CASE WHEN st.total > 0
       |    THEN st.mx / st.total::DOUBLE ELSE 0.0 END AS top_fraction
       |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin
  }

  // -- q72: PII scrubbing (operators.Scrub) — emails/IPs/phones replaced
  // with placeholder tokens plus audit counts, all codegen'd
  // regexp_replace/regexp_count within the RE2-compatible subset so the
  // oracle reproduces the exact rewrite. The fixtures synthesize PII
  // deterministically per doc (the word-soup corpus has none). --
  private val q72: Q = (s, dir) => {
    import s.implicits._
    val id = $"doc_id".cast("string")
    val aug = docs(s, dir).select($"doc_id",
      concat($"text",
        lit(" mail u"), id, lit("@ex.org"),
        when($"doc_id" % 3 === 0,
          concat(lit(" ip 10.1.2."), ($"doc_id" % 250).cast("string")))
          .otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" tel +1 202-555-0"),
            lpad(($"doc_id" % 100).cast("string"), 3, "0")))
          .otherwise(lit(""))).as("text"))
    graft.operators.Scrub.scrubPii(aug, "text")
      .select($"doc_id", $"text".as("scrubbed"),
        $"n_emails".cast("long").as("n_emails"),
        $"n_ips".cast("long").as("n_ips"),
        $"n_phones".cast("long").as("n_phones"))
  }
  private val q72Sql = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
    val phone = "(\\+?\\d{1,3}[-. ]?)?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}\\b"
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' mail u' || CAST(doc_id AS VARCHAR) || '@ex.org'
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN ' ip 10.1.2.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN ' tel +1 202-555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
       |         ELSE '' END AS t
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(t,
       |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS scrubbed,
       |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones
       |FROM aug""".stripMargin
  }

  // -- q75: fixed-size token chunking with overlap (operators.Chunk) —
  // the RAG/pretraining context-window splitter. Narrow explode per doc;
  // chunk 40, overlap 8 so sf docs (~200 tokens) produce several chunks
  // with real short-tail chunks at document ends. --
  private val q75: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Chunk.split(docs(s, dir), "text",
      chunkTokens = 40, overlap = 8)
      .select($"doc_id", $"chunk_idx", $"chunk_tokens", md5($"chunk_text").as("chunk_md5"))
  }
  private val q75Sql = {
    val tk = dTok
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |idx AS (
       |  SELECT doc_id, tk, unnest(range(0, ((len(tk) - 1) // 32) + 1)) AS i
       |  FROM t WHERE len(tk) > 0)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(len(list_slice(tk, i * 32 + 1, i * 32 + 40)) AS BIGINT) AS chunk_tokens,
       |  md5(array_to_string(list_slice(tk, i * 32 + 1, i * 32 + 40), ' ')) AS chunk_md5
       |FROM idx""".stripMargin
  }

  // -- q76: character-level quality signal — distinct chars and Simpson
  // diversity (1 − Σp²). Simpson, not Shannon, on purpose: pure integer
  // arithmetic + one double division reproduces bit-for-bit in the
  // oracle, where a libm log2's last ulp need not. One codegen'd
  // graft_char_stats call per row, zero shuffles. --
  private val q76: Q = (s, dir) => {
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(s)
    docs(s, dir)
      .withColumn("__cs",
        call_function(graft.functions.CharStats.name, coalesce($"text", lit(""))))
      .select($"doc_id", $"__cs.total_chars", $"__cs.distinct_chars",
        $"__cs.char_diversity")
  }
  private val q76Sql =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(COALESCE(text, ''), '')) AS c
      |  FROM documents),
      |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
      |st AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
      |         CAST(count(*) AS BIGINT) AS dst,
      |         CAST(sum(cnt * cnt) AS BIGINT) AS ss
      |       FROM cc GROUP BY 1)
      |SELECT d.doc_id, COALESCE(st.n, 0) AS total_chars,
      |  COALESCE(st.dst, 0) AS distinct_chars,
      |  CASE WHEN st.n > 0 THEN 1.0 - CAST(st.ss AS DOUBLE) / (st.n * st.n)
      |       ELSE 0.0 END AS char_diversity
      |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin

  // -- q77: BPE pair statistics — the argmax table the tokenizer-training
  // loop (operators.Bpe.train, BpeSpec) consumes each round: corpus-
  // weighted adjacent-character pair counts over the distinct-word vocab,
  // top-20 under the deterministic (cnt desc, pair lexicographic) order
  // that makes training reproducible. The corpus is scanned once; the
  // pair table lives on the vocab. (The full iterative merge loop is not
  // SQL-expressible — it is spec-verified on the textbook corpus.) --
  private val q77: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Bpe.pairCounts(
      graft.operators.Bpe.wordTable(docs(s, dir), "text"))
      .orderBy($"cnt".desc, $"left".asc, $"right".asc)
      .limit(20)
      .select($"left".as("pair_left"), $"right".as("pair_right"), $"cnt")
  }
  private val q77Sql =
    s"""WITH w AS (SELECT unnest($dTok) AS word FROM documents),
       |wf AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
       |ch AS (SELECT freq, string_split(word, '') AS cs FROM wf),
       |p AS (SELECT freq, cs, unnest(range(1, len(cs))) AS i FROM ch)
       |SELECT cs[i] AS pair_left, cs[i + 1] AS pair_right,
       |  CAST(sum(freq) AS BIGINT) AS cnt
       |FROM p GROUP BY 1, 2
       |ORDER BY cnt DESC, pair_left, pair_right LIMIT 20""".stripMargin

  // -- q78: SimHash near-dup pairs within Hamming distance 3, via
  // pigeonhole banding (Dedup.simhashNearDup: one shuffle, in-bucket
  // pairs, join-free popcount verify). Oracle: band join + xor/bit_count
  // over the q23 simhash formulation — an independent reconstruction of
  // both the banding and the distance check. Capped to a fixed id range
  // (the q27 precedent): this synthetic corpus is near-degenerate for
  // SimHash — every doc draws the same small vocabulary, so ~3.5% of ALL
  // pairs sit within distance 3 and the OUTPUT (not the algorithm) grows
  // quadratically with corpus size. On a real corpus near-dup density is
  // sub-linear and the uncapped operator is the production path. --
  private val q78: Q = (s, dir) => {
    import s.implicits._
    // bits = 32: the md5-nibble fingerprint the DuckDB oracle reproduces
    // exactly; the production default is the 64-bit path, pinned against
    // this one by DedupSimilaritySpec's differential. maxBucket = 2001
    // (> the filter's 2000-doc cap) so the star guard provably never
    // truncates THIS query: at sf0.1 the word-soup corpus concentrates
    // >1024 docs into one band byte and the default cap's min-id star
    // (the documented recall trade, spec-pinned separately) would drop
    // pairs the exhaustive oracle counts — the round-13 sf0.1 full-gate
    // catch, the q161 explicit-params-for-parity-pins discipline. --
    graft.operators.Dedup.simhashNearDup(
      docs(s, dir).filter($"doc_id" < 2000), "text", "doc_id", bits = 32,
      maxBucket = 2001)
  }
  private val q78Sql =
    s"""WITH sh AS (SELECT * FROM ($q23Sql) WHERE doc_id < 2000),
       |bb AS (
       |  SELECT doc_id, simhash, band, (simhash >> (8 * band)) & 255 AS bits
       |  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM bb a JOIN bb b ON a.band = b.band AND a.bits = b.bits
       |  WHERE a.doc_id < b.doc_id)
       |SELECT DISTINCT doc_id_a, doc_id_b,
       |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin

  // -- q79: Unicode text normalization (operators.Normalize over the
  // codegen'd graft_unicode_norm kernel) — NFC-compose, strip controls,
  // collapse whitespace, trim: the cleaning pass byte-keyed dedup needs
  // first. The word-soup corpus is pure ASCII (where normalization is
  // identity), so the fixture decomposes it deterministically: every
  // 'a' gains a combining diaeresis (U+0308) and a BEL + tab + double
  // space frame is glued on — NFC must re-compose to precomposed 'ä'
  // (1 codepoint) and the cleanup must erase the frame. md5(clean) makes
  // the check byte-exact; DuckDB's nfc_normalize is the oracle's twin. --
  private val q79: Q = (s, dir) => {
    import s.implicits._
    val raw = docs(s, dir).select($"doc_id",
      concat(lit("  \u0007"), regexp_replace($"text", "a", "a\u0308"),
        lit(" \tend  ")).as("raw"))
    val clean = graft.operators.Normalize.cleanText($"raw")
    raw.select($"doc_id", clean.as("clean"), md5(clean).as("clean_md5"),
      length(clean).cast("long").as("n_chars_clean"))
  }
  private val q79Sql =
    """WITH aug AS (
      |  SELECT doc_id,
      |    '  ' || chr(7) || replace(text, 'a', 'a' || chr(776)) || ' ' || chr(9) || 'end  ' AS raw
      |  FROM documents),
      |cl AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(nfc_normalize(raw),
      |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
      |  FROM aug)
      |SELECT doc_id, clean, md5(clean) AS clean_md5,
      |  CAST(length(clean) AS BIGINT) AS n_chars_clean
      |FROM cl""".stripMargin

  // -- q80: URL canonicalization + per-domain cap (operators.UrlOps) —
  // the crawl-curation pair: canonical URL key (case, default port,
  // www., fragment, tracking params, param order, trailing slash all
  // folded away) and at most 10 docs per domain, kept by doc_id. URLs
  // are derived deterministically from (source, doc_id) — the corpus has
  // no URL column — with every noise axis present so each rewrite step
  // is observable. Oracle: the same RE2-subset regex chain + window
  // transliterated to DuckDB. --
  private val q80: Q = (s, dir) => {
    import s.implicits._
    val id = $"doc_id".cast("string")
    val raw = docs(s, dir).select($"doc_id",
      concat(lit("HTTPS://WWW."), upper($"source"), lit(".Example.COM:443/docs/"),
        id, lit("/?b=2&utm_source=feed&a=1&gclid="), id, lit("#frag")).as("url"))
    val normed = raw.select($"doc_id",
      graft.operators.UrlOps.normalizeUrl($"url").as("url_norm"),
      graft.operators.UrlOps.domainOf($"url").as("domain"))
    graft.operators.UrlOps.capPerDomain(normed, "url_norm", 10, $"doc_id")
  }
  private val q80Sql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' ||
      |    CAST(doc_id AS VARCHAR) || '/?b=2&utm_source=feed&a=1&gclid=' ||
      |    CAST(doc_id AS VARCHAR) || '#frag' AS url
      |  FROM documents),
      |nf AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u FROM raw),
      |parts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
      |  FROM nf),
      |comp AS (
      |  SELECT doc_id, scheme,
      |    regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')), '^www\.', '') AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
      |    regexp_replace(regexp_replace('&' || regexp_extract(rest, '\?(.*)$', 1),
      |      '&(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g'), '^&', '') AS query
      |  FROM parts),
      |normed AS (
      |  SELECT doc_id,
      |    scheme || '://' || host ||
      |    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
      |          AND NOT (scheme = 'https' AND port = '443')
      |         THEN ':' || port ELSE '' END ||
      |    path ||
      |    CASE WHEN query = '' THEN ''
      |         ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END AS url_norm,
      |    host AS domain
      |  FROM comp),
      |capped AS (
      |  SELECT doc_id, url_norm, domain,
      |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
      |  FROM normed)
      |SELECT doc_id, url_norm, domain FROM capped WHERE rn <= 10""".stripMargin

  // -- q81: inverted-index build (operators.InvertedIndex) — token ->
  // (df, cf, k-bounded posting list ranked tf desc, doc_id asc). The
  // posting cut rides the graft_topk heap aggregate, so the token-level
  // shuffle carries vocabulary × k entries, never the corpus — the
  // window form of the same cut is the oracle (two algorithms, one
  // hash). Output flattened to (token, df, cf, rnk, doc_id, tf) rows;
  // minDf=2 prunes the hapax tail. --
  private val q81: Q = (s, dir) => {
    import s.implicits._
    graft.operators.InvertedIndex.build(docs(s, dir), "text", "doc_id", k = 5, minDf = 2L)
      .select($"token", $"df", $"cf", posexplode($"postings"))
      .select($"token", $"df", $"cf", ($"pos" + 1).as("rnk"),
        $"col.id".as("doc_id"), $"col.score".cast("long").as("tf"))
  }
  private val q81Sql =
    s"""WITH t AS (SELECT doc_id, unnest($dTok) AS token FROM documents),
       |tf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
       |       FROM t GROUP BY 1, 2),
       |ag AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
       |         CAST(sum(tf) AS BIGINT) AS cf
       |       FROM tf GROUP BY 1 HAVING count(*) >= 2),
       |rk AS (SELECT token, doc_id, tf,
       |         row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
       |       FROM tf)
       |SELECT rk.token, ag.df, ag.cf, CAST(rk.rn AS INT) AS rnk,
       |  rk.doc_id, rk.tf
       |FROM rk JOIN ag ON rk.token = ag.token WHERE rk.rn <= 5""".stripMargin

  // -- q82: Okapi BM25 term weights (operators.Bm25) — the scoring half
  // of the retrieval path over q81's structure: Robertson idf ×
  // length-normalized tf, one corpus shuffle, vocabulary-sized df table
  // broadcast back, (N, avgdl) scalars cross-joined from a one-row agg.
  // Oracle: the same formula spelled in SQL (ln/round in both engines;
  // 6-dp rounding for cross-engine float parity — the q63 precedent). --
  private val q82: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Bm25.weights(docs(s, dir), "text", "doc_id")
      .select($"id".as("doc_id"), $"token", $"tf", $"dl", $"df", $"bm25")
  }
  private val q82Sql =
    s"""WITH base AS (SELECT doc_id, $dTok AS tk FROM documents),
       |tok AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS token
       |        FROM base),
       |tf AS (SELECT token, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY 1, 2, 3),
       |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(avg(len(tk)) AS DOUBLE) AS avgdl FROM base)
       |SELECT tf.doc_id, tf.token, tf.tf, tf.dl, dft.df,
       |  round(ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1) *
       |        (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / st.avgdl)),
       |        6) AS bm25
       |FROM tf JOIN dft USING (token) CROSS JOIN st""".stripMargin

  // -- q83: PageRank over the near-dup graph (operators.PageRank) — the
  // link-analysis quality signal, run undirected over q22's candidate
  // pairs (rank concentrates on the best-connected member of each dup
  // blob). 3 power-iteration rounds from a uniform start. Oracle: the
  // same three rounds UNROLLED as CTE stages (every double literal
  // CAST to DOUBLE so DuckDB doesn't fall into DECIMAL arithmetic);
  // 6-dp rounding absorbs summation-order ulps. --
  private val q83: Q = (s, dir) => {
    import s.implicits._
    graft.operators.PageRank.ranks(q22(s, dir), "doc_a", "doc_b",
      iters = 3, undirected = true)
      .select($"node".as("doc_id"), round($"rank", 6).as("pr"))
  }
  private val q83Sql = {
    val d = "CAST(0.85 AS DOUBLE)"
    def round(k: Int): String =
      s"""r$k AS (
         |  SELECT n.node,
         |    (1 - $d) / st.n + $d * COALESCE(sm.s, CAST(0 AS DOUBLE)) AS r
         |  FROM nodes n CROSS JOIN st
         |  LEFT JOIN (
         |    SELECT e.dst, sum(p.r / e.outdeg) AS s
         |    FROM ed e JOIN r${k - 1} p ON e.src = p.node
         |    GROUP BY 1) sm ON sm.dst = n.node)""".stripMargin
    s"""WITH pairs AS ($q22Sql),
       |dir AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM dir GROUP BY 1),
       |ed AS (SELECT dir.src, dir.dst, deg.outdeg FROM dir JOIN deg USING (src)),
       |nodes AS (SELECT DISTINCT src AS node FROM dir),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1 AS DOUBLE) / st.n AS r FROM nodes CROSS JOIN st),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT node AS doc_id, round(r, 6) AS pr FROM r3""".stripMargin
  }

  // -- q84: Misra–Gries heavy hitters (graft_heavy_hitters) over the
  // token first-letter stream — 19 distinct keys against k=15 counters,
  // so the sketch genuinely evicts, and the n/16 threshold admits the
  // top frequency tier. The oracle is q37's within-tolerance pattern:
  // exact counts are SQL-reproducible, the sketch is not — so the Spark
  // side emits, for every item EXACTLY above threshold, the boolean
  // "sketch found it, never overcounted, within the n/(k+1) bound"
  // (missing item -> ok=false via the left join), and the oracle emits
  // literal true for the same exact-count rows. Hash equality therefore
  // proves the Misra–Gries guarantee held. (The exact groupBy here is
  // check scaffolding — the sketch alone is the production path when
  // the key space is too large to groupBy.) --
  private val q84: Q = (s, dir) => {
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(s)
    val items = docs(s, dir)
      .select(explode(Text.tokens($"text")).as("t"))
      .select(substring($"t", 1, 1).as("item"))
    val sk = items
      .agg(graft.functions.HeavyHitters.heavyHitters($"item", 15).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item".as("item"), $"e.cnt".as("est"))
    val n = items.agg(count(lit(1)).as("n"))
    val exact = items.groupBy($"item").agg(count(lit(1)).as("cnt"))
    exact.crossJoin(broadcast(n)).join(broadcast(sk), Seq("item"), "left")
      .filter($"cnt" > $"n" / 16.0)
      .select($"item", $"cnt",
        ($"est".isNotNull && $"est" <= $"cnt" &&
          ($"cnt" - $"est") <= $"n" / 16.0).as("ok"))
  }
  private val q84Sql =
    s"""WITH tok AS (SELECT unnest($dTok) AS t FROM documents),
       |it AS (SELECT substring(t, 1, 1) AS item FROM tok),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM it)
       |SELECT item, CAST(count(*) AS BIGINT) AS cnt, true AS ok
       |FROM it CROSS JOIN st
       |GROUP BY item, st.n
       |HAVING count(*) > st.n / 16.0""".stripMargin

  // -- q85: cross-document duplicate spans (operators.Spans) — per-doc
  // count/fraction of 10-token windows that occur anywhere else in the
  // corpus (the Lee-et-al span-level dedup signal; q70 is intra-doc
  // only, q22 is whole-doc). Oracle: unnest + group-by occurrence
  // counts + join — the direct SQL reformulation. --
  private val q85: Q = (s, dir) =>
    graft.operators.Spans.dupSpanStats(docs(s, dir), "text", "doc_id", w = 10)
  private val q85Sql = {
    val tk = dTok
    s"""WITH g AS (
       |  SELECT doc_id, md5(gram) AS fp FROM (
       |    SELECT doc_id, unnest(${dShingles(tk, 10)}) AS gram FROM documents)),
       |occ AS (SELECT fp, count(*) AS occ FROM g GROUP BY 1),
       |per AS (
       |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(CASE WHEN o.occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
       |  FROM g JOIN occ o USING (fp) GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(per.n_spans, 0) AS n_spans,
       |  COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
       |  CASE WHEN per.n_spans > 0
       |       THEN CAST(per.n_dup_spans AS DOUBLE) / per.n_spans
       |       ELSE 0.0 END AS dup_span_fraction
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin
  }

  // -- q86: hashing-trick featurization (operators.FeatureHash) —
  // hashed bag-of-words at dim=32 in the sparse form (the dense packer
  // is spec-pinned equal); buckets are the Splits md5 construction, so
  // the oracle reproduces every assignment bit-for-bit. --
  private val q86: Q = (s, dir) =>
    graft.operators.FeatureHash.sparseBow(docs(s, dir), "text", "doc_id", dim = 32)
  private val q86Sql =
    s"""WITH tok AS (SELECT doc_id, unnest($dTok) AS t FROM documents)
       |SELECT doc_id,
       |  TRY_CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 32 AS bucket,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM tok GROUP BY 1, 2""".stripMargin

  // -- q87: bigram LM quality score (operators.LangModel) — add-one
  // smoothed corpus bigram log-probs, mean per doc: the perplexity-gate
  // signal. Oracle: the identical count arithmetic + ln in SQL (exact
  // integer operands -> identical doubles into ln; 6-dp round absorbs
  // summation-order ulps in the mean). --
  private val q87: Q = (s, dir) =>
    graft.operators.LangModel.bigramLogProb(docs(s, dir), "text", "doc_id")
  private val q87Sql = {
    val tk = dTok
    s"""WITH toks AS (SELECT doc_id, unnest($tk) AS t FROM documents),
       |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY 1),
       |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
       |bis AS (SELECT doc_id, unnest(${dShingles(tk, 2)}) AS bg FROM documents),
       |bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bis GROUP BY 1),
       |lm AS (
       |  SELECT bi.bg, ln(CAST(bi.c2 + 1 AS DOUBLE) / (uni.c1 + voc.v)) AS lp
       |  FROM bi JOIN uni ON split_part(bi.bg, ' ', 1) = uni.t CROSS JOIN voc),
       |per AS (
       |  SELECT bis.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    round(avg(lm.lp), 6) AS avg_lp
       |  FROM bis JOIN lm USING (bg) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams, per.avg_lp
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin
  }

  // -- q88: verified near-dup pairs (Dedup.nearDupVerified) — the LSH
  // candidates of q22 re-scored on full distinct 5-gram sets, keeping
  // Jaccard >= 0.96 (the corpus's candidate scores span 0.875-0.989,
  // so the cut drops the weakest third): the false-positive-filtering
  // stage a production dedup runs before acting. Cost is O(candidates), never O(n^2).
  // Oracle: q22's pair SQL + list_intersect/list_distinct set algebra —
  // identical integer operands, so the unrounded double divides match
  // bit-for-bit (the q27 precedent). --
  private val q88: Q = (s, dir) =>
    graft.operators.Dedup.nearDupVerified(docs(s, dir), "text", "doc_id",
      minJaccard = 0.96)
  private val q88Sql =
    s"""WITH pairs AS ($q22Sql),
       |sh AS (SELECT doc_id, list_distinct(${dShingles(dTok, 5)}) AS sh
       |       FROM documents)
       |SELECT * FROM (
       |  SELECT p.doc_a AS doc_id_a, p.doc_b AS doc_id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM pairs p JOIN sh a ON p.doc_a = a.doc_id
       |               JOIN sh b ON p.doc_b = b.doc_id)
       |WHERE jaccard >= 0.96""".stripMargin

  // -- q90: temperature-balanced source mixing at alpha=0.5
  // (Mix.balanceSources) — each source keeps sqrt(min/n_s) of its docs,
  // content-addressed. The fixture's sources are uniform (25 docs each,
  // rule never bites), so the source label is re-derived skewed from
  // doc_id (the q72 synthesis precedent): mod-4 buckets 0,1 -> 'big',
  // 2 -> 'mid', 3 -> 'small' give a 2:1:1 skew and a 7071/10000 cut on
  // 'big'. Exact-integer counts + IEEE sqrt -> bit-identical thresholds
  // in both engines; output is per-source threshold + kept count. --
  private val q90: Q = (s, dir) => {
    import s.implicits._
    val skewed = docs(s, dir).select($"doc_id",
      when($"doc_id" % 4 < 2, "big")
        .when($"doc_id" % 4 === 2, "mid")
        .otherwise("small").as("src"))
    graft.operators.Mix.balanceSources(skewed, "doc_id", "src")
      .groupBy($"src")
      .agg(count(lit(1)).as("kept"))
  }
  private val q90Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 < 2 THEN 'big'
      |         WHEN doc_id % 4 = 2 THEN 'mid' ELSE 'small' END AS src
      |  FROM documents),
      |n AS (SELECT src, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
      |mn AS (SELECT min(n_s) AS min_n FROM n),
      |r AS (SELECT src,
      |        CAST(round(sqrt(CAST(min_n AS DOUBLE) / n_s) * 10000) AS BIGINT) AS thr
      |      FROM n CROSS JOIN mn),
      |k AS (SELECT d.doc_id, d.src FROM d JOIN r USING (src)
      |      WHERE TRY_CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.src), 1, 8) AS BIGINT)
      |            % 10000 < r.thr)
      |SELECT src, CAST(count(*) AS BIGINT) AS kept FROM k GROUP BY 1""".stripMargin

  // -- q91: exact-substring dedup (Spans.removeDupSpans) — the ACTING
  // form of q85: every duplicated 10-token window keeps its minimum
  // (doc, offset) occurrence and is removed everywhere else; the oracle
  // verifies the REWRITTEN text. DuckDB side: zipped unnests give gram
  // positions, row_number over fp picks the same canonical occurrence,
  // NOT EXISTS drops covered token positions, string_agg(ORDER BY p)
  // rebuilds the text — an independent reformulation of the whole
  // remove path, so the hash match pins the actual output documents. --
  private val q91: Q = (s, dir) =>
    graft.operators.Spans.removeDupSpans(docs(s, dir), "text", "doc_id", w = 10)
  private val q91Sql = {
    val tk = dTok
    val shw = dShingles(tk, 10)
    s"""WITH g AS (
       |  SELECT doc_id, unnest($shw) AS gram,
       |         unnest(range(1, len($shw) + 1)) AS j
       |  FROM documents),
       |f AS (SELECT doc_id, j, md5(gram) AS fp FROM g),
       |rm AS (
       |  SELECT doc_id, j FROM (
       |    SELECT doc_id, j,
       |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, j) AS rn
       |    FROM f) WHERE rn >= 2),
       |tok AS (
       |  SELECT doc_id, unnest($tk) AS t, unnest(range(1, len($tk) + 1)) AS p
       |  FROM documents),
       |kept AS (
       |  SELECT tok.doc_id, tok.p, tok.t FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.doc_id = tok.doc_id
       |                    AND tok.p BETWEEN rm.j AND rm.j + 9)),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(t, ' ' ORDER BY p) AS clean_text
       |  FROM kept GROUP BY 1)
       |SELECT d.doc_id, CAST(len($tk) AS BIGINT) AS n_tokens,
       |       COALESCE(per.n_kept, 0) AS n_kept,
       |       COALESCE(per.clean_text, '') AS clean_text
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin
  }

  // -- q94: deterministic per-group uniform sampling (Sample.bottomK) —
  // k smallest md5(id:salt) draws per group via the k-bounded heap
  // aggregate (shuffle carries groups x k, never the population; the
  // ORDER BY rand() LIMIT k shape this replaces is neither rerun-stable
  // nor scale-safe). Groups are the synthetic mod-4 split (q90's
  // precedent). Oracle: the window row_number form over the identical
  // md5 arithmetic — two algorithms, one hash. --
  private val q94: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Sample.bottomK(
      docs(s, dir).withColumn("grp", $"doc_id" % 4),
      Seq("grp"), "doc_id", k = 10)
  }
  private val q94Sql =
    """WITH h AS (
      |  SELECT doc_id, doc_id % 4 AS grp,
      |    TRY_CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 8)
      |      AS BIGINT) AS hv
      |  FROM documents)
      |SELECT grp, doc_id FROM (
      |  SELECT grp, doc_id,
      |    row_number() OVER (PARTITION BY grp ORDER BY hv, doc_id) AS rn
      |  FROM h) WHERE rn <= 10""".stripMargin

  // -- q95: quality-classifier inference (Classifier.score) — logistic
  // scoring over hashed bag-of-words, the fastText-style quality gate.
  // Weights are exact SIXTEENTHS ((bucket-16)/16, dyadic rationals), so
  // every partial sum is exact in double and the fold is order-
  // independent — the one libm call (exp) is absorbed by round(,6), the
  // q87 ln precedent. Oracle: same md5-bucket arithmetic + sigmoid in
  // SQL. Zero shuffles on the Spark side (weight map rides the
  // expression tree; no explode). --
  private val q95: Q = (s, dir) => {
    val weights = (0 until 32).map(i => i -> (i - 16) / 16.0).toMap
    graft.operators.Classifier.score(
      docs(s, dir), "text", "doc_id", weights, bias = 0.1, dim = 32)
  }
  private val q95Sql = {
    val bucket = "TRY_CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 32"
    s"""WITH t AS (SELECT doc_id, unnest($dTok) AS tok FROM documents),
       |z AS (
       |  SELECT doc_id,
       |    sum(CAST(($bucket) - 16 AS DOUBLE) / CAST(16 AS DOUBLE)) AS z
       |  FROM t GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(len($dTok) AS BIGINT) AS n_tokens,
       |  round(1.0 / (1.0 + exp(-(CAST(0.1 AS DOUBLE) +
       |    CASE WHEN len($dTok) > 0 THEN COALESCE(z.z, 0.0) / len($dTok)
       |         ELSE 0.0 END))), 6) AS score
       |FROM documents d LEFT JOIN z ON d.doc_id = z.doc_id""".stripMargin
  }

  // -- q96: Count-Min sketch (graft_cms) over the token stream — point-
  // frequency estimation with fixed O(depth x width) state, the
  // complement of q84's Misra-Gries (WHICH items are hot vs HOW OFTEN is
  // this item). The estimate is replayed IN SPARK over the emitted grid
  // with the same md5-slice row hashes the aggregate used (one digest,
  // four disjoint 32-bit slices — the MinHash-band construction), so the
  // query itself proves the grid works; the within-tolerance booleans
  // are the q37/q84 oracle pattern: never-undercount is the hard CM
  // invariant, the upper bound gets 4x the expected n/width collision
  // mass. 1130 distinct tokens vs width 256 means collisions are real. --
  private val q96: Q = (s, dir) => {
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(s)
    val items = docs(s, dir).select(explode(Text.tokens($"text")).as("item"))
    val grid = items.agg(graft.functions.CmSketch.cms($"item", 4, 256).as("g"))
    val n = items.agg(count(lit(1)).as("n"))
    val exact = items.groupBy($"item").agg(count(lit(1)).as("cnt"))
    val est = (0 until 4).map { d =>
      element_at(element_at($"g", d + 1),
        ((conv(substring(md5($"item"), 8 * d + 1, 8), 16, 10).cast("long") % 256)
          + 1).cast("int"))
    }.reduce(least(_, _))
    exact.crossJoin(broadcast(grid)).crossJoin(broadcast(n))
      .filter($"cnt" >= 50)
      .select($"item", $"cnt",
        (est >= $"cnt" && est <= $"cnt" + $"n" * 4.0 / 256).as("ok"))
  }
  private val q96Sql =
    s"""WITH tok AS (SELECT unnest($dTok) AS item FROM documents)
       |SELECT item, CAST(count(*) AS BIGINT) AS cnt, true AS ok
       |FROM tok GROUP BY item HAVING count(*) >= 50""".stripMargin

  // -- q97: deterministic corpus permutation (Sample.permute) — the
  // global pre-sharding shuffle, rerun/engine/cluster-size stable:
  // pos = rank in md5(id:salt) order, assigned by range-partitioned
  // sort + the q65 two-pass prefix scan (no global window, no
  // single-task sort). Oracle: row_number over the same md5 order. --
  private val q97: Q = (s, dir) =>
    graft.operators.Sample.permute(docs(s, dir), "doc_id", salt = "epoch0")
  private val q97Sql =
    """SELECT doc_id,
      |  row_number() OVER (
      |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':epoch0'), doc_id) AS pos
      |FROM documents""".stripMargin

  // -- q100: the COMPLETE modern prep pipeline, round-5 edition — q64's
  // composition upgraded with this round's operators, end-to-end in one
  // declarative plan: Unicode clean (q79) -> exact dedup on cleaned text
  // (q20) -> one-call near-dup pruning (q22/q62 via Dedup.pruneNearDups)
  // -> exact-substring span removal (q91) -> min-token gate -> content-
  // addressed split (q52). Output is (doc_id, n_kept, md5(rewritten
  // text), split), so the hash pins the actual surviving documents and
  // their rewritten contents. Oracle: the proven per-stage CTE fragments
  // composed in the same order — recursive closure included. --
  private val q100: Q = (s, dir) => {
    import s.implicits._
    val cleaned = docs(s, dir).select($"doc_id",
      graft.operators.Normalize.cleanText($"text").as("text"))
    val exact = graft.operators.Dedup.exactByText(cleaned, "text", "doc_id")
    val pruned = graft.operators.Dedup.pruneNearDups(exact, "text", "doc_id")
    val rewritten = graft.operators.Spans.removeDupSpans(pruned, "text", "doc_id", w = 10)
    val gated = rewritten.filter($"n_kept" >= 10)
    graft.operators.Splits.assign(gated, "doc_id")
      .select($"doc_id", $"n_kept", md5($"clean_text").as("text_md5"), $"split")
  }
  private val q100Sql = {
    val tkq = dTok
    val shw = dShingles(tkq, 10)
    val sh5 = dShingles(tkq, 5)
    s"""WITH RECURSIVE
       |cl AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
       |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ' ', 'g'),
       |      '\\s+', ' ', 'g')) AS text
       |  FROM documents),
       |exact AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, row_number() OVER (
       |      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
       |      ORDER BY doc_id) AS rn
       |    FROM cl) WHERE rn = 1),
       |sigs AS (
       |  SELECT doc_id, band,
       |    list_aggregate(list_transform(dg, d -> substring(d, 1 + 8 * (band - 1), 8)), 'min') AS sig
       |  FROM (SELECT doc_id, list_transform($sh5, x -> md5(x)) AS dg FROM exact),
       |       (SELECT unnest([1, 2, 3, 4]) AS band)
       |  WHERE list_aggregate(list_transform(dg, d -> substring(d, 1 + 8 * (band - 1), 8)), 'min') IS NOT NULL),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
       |  WHERE a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |members AS (SELECT src AS node, dst AS m FROM reach
       |            UNION ALL SELECT src, src FROM edges),
       |clusters AS (SELECT node, min(m) AS cluster FROM members GROUP BY node),
       |survivors AS (
       |  SELECT e.doc_id, e.text FROM exact e LEFT JOIN clusters c ON e.doc_id = c.node
       |  WHERE c.node IS NULL OR c.cluster = e.doc_id),
       |g AS (
       |  SELECT doc_id, unnest($shw) AS gram, unnest(range(1, len($shw) + 1)) AS j
       |  FROM survivors),
       |f AS (SELECT doc_id, j, md5(gram) AS fp FROM g),
       |rm AS (
       |  SELECT doc_id, j FROM (
       |    SELECT doc_id, j, row_number() OVER (PARTITION BY fp ORDER BY doc_id, j) AS rn
       |    FROM f) WHERE rn >= 2),
       |tok AS (
       |  SELECT doc_id, unnest($tkq) AS t, unnest(range(1, len($tkq) + 1)) AS p
       |  FROM survivors),
       |kept AS (
       |  SELECT tok.doc_id, tok.p, tok.t FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.doc_id = tok.doc_id
       |                    AND tok.p BETWEEN rm.j AND rm.j + 9)),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(t, ' ' ORDER BY p) AS clean_text
       |  FROM kept GROUP BY 1),
       |gated AS (
       |  SELECT s.doc_id, COALESCE(per.n_kept, 0) AS n_kept,
       |         COALESCE(per.clean_text, '') AS clean_text
       |  FROM survivors s LEFT JOIN per ON s.doc_id = per.doc_id
       |  WHERE COALESCE(per.n_kept, 0) >= 10)
       |SELECT doc_id, n_kept, md5(clean_text) AS text_md5,
       |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT *, TRY_CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
       |      FROM gated)""".stripMargin
  }

  // -- q120: distributed quality-classifier TRAINING
  // (Classifier.train) — 3 full-batch logistic GD iterations over
  // hashed bag-of-words (dim 64, lr 0.5, zeros init) on a label the
  // features can actually express (document contains the token
  // 'spark'), then prediction with the same bucket-sorted fold
  // arithmetic. Reproducibility: every gradient sum is an ordered fold
  // (docs by id, buckets ascending — the q92 lesson), so both engines
  // walk bit-identical weight trajectories modulo one exp() ulp per
  // residual; the OUTPUT is the discrete prediction (z >= 0), stable
  // under that noise (min |z| = 0.366 at sf0.01, measured). Oracle: the
  // three iterations unrolled as CTEs — iteration 1 collapses to
  // r = 0.5 - y (zeros init makes p exactly 1/2), then two
  // (z -> residual -> gradient -> weight) rounds via list_aggregate
  // ordered folds, FULL JOIN weight updates. --
  private val q120: Q = (s, dir) => {
    import s.implicits._
    val labeled = docs(s, dir).select($"doc_id", $"text",
      array_contains(Text.tokens($"text"), "spark").cast("double").as("y"))
    // one pinned feature frame for both the GD loop and the prediction
    // projection (train-then-predict paid the tokenize+hash kernel
    // twice — identical output by construction)
    graft.operators.Classifier.trainPredict(labeled, "text", "y",
      "doc_id", dim = 64, iterations = 3, lr = 0.5)
  }
  private val q120Sql = {
    def gradCte(r: String, n: Int): String =
      s"""g$n AS (
         |  SELECT x.b, list_aggregate(list($r.r * x.x ORDER BY x.doc_id), 'sum')
         |           / (SELECT m FROM m) AS g
         |  FROM x JOIN $r USING (doc_id) GROUP BY x.b),
         |gb$n AS (SELECT list_aggregate(list(r ORDER BY doc_id), 'sum')
         |           / (SELECT m FROM m) AS g FROM $r)""".stripMargin
    def zCte(w: String, b: String, n: Int): String =
      s"""z$n AS (
         |  SELECT d.doc_id, d.y, (SELECT bias FROM $b) + COALESCE(f.z, 0.0) AS z
         |  FROM d LEFT JOIN (
         |    SELECT x.doc_id,
         |      list_aggregate(list(COALESCE($w.w, 0.0) * x.x ORDER BY x.b), 'sum') AS z
         |    FROM x LEFT JOIN $w USING (b) GROUP BY x.doc_id) f USING (doc_id))""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN list_contains($dTok, 'spark') THEN CAST(1 AS DOUBLE)
       |         ELSE CAST(0 AS DOUBLE) END AS y,
       |    text
       |  FROM documents),
       |t AS (SELECT doc_id, unnest($dTok) AS tok FROM d),
       |sp AS (SELECT doc_id,
       |         CAST(TRY_CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 64 AS INT) AS b,
       |         count(*) AS c
       |       FROM t GROUP BY 1, 2),
       |n AS (SELECT doc_id, len($dTok) AS n FROM d),
       |x AS (SELECT sp.doc_id, sp.b, CAST(sp.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS x
       |      FROM sp JOIN n USING (doc_id)),
       |m AS (SELECT count(*) AS m FROM d),
       |r1 AS (SELECT doc_id, CAST(0.5 AS DOUBLE) - y AS r FROM d),
       |${gradCte("r1", 1)},
       |w1 AS (SELECT b, -CAST(0.5 AS DOUBLE) * g AS w FROM g1),
       |b1 AS (SELECT -CAST(0.5 AS DOUBLE) * g AS bias FROM gb1),
       |${zCte("w1", "b1", 2)},
       |r2 AS (SELECT doc_id, 1.0/(1.0 + exp(-z)) - y AS r FROM z2),
       |${gradCte("r2", 2)},
       |w2 AS (SELECT b, COALESCE(w1.w, 0.0) - CAST(0.5 AS DOUBLE) * COALESCE(g2.g, 0.0) AS w
       |       FROM w1 FULL JOIN g2 USING (b)),
       |b2 AS (SELECT (SELECT bias FROM b1) - CAST(0.5 AS DOUBLE) * g AS bias FROM gb2),
       |${zCte("w2", "b2", 3)},
       |r3 AS (SELECT doc_id, 1.0/(1.0 + exp(-z)) - y AS r FROM z3),
       |${gradCte("r3", 3)},
       |w3 AS (SELECT b, COALESCE(w2.w, 0.0) - CAST(0.5 AS DOUBLE) * COALESCE(g3.g, 0.0) AS w
       |       FROM w2 FULL JOIN g3 USING (b)),
       |b3 AS (SELECT (SELECT bias FROM b2) - CAST(0.5 AS DOUBLE) * g AS bias FROM gb3),
       |${zCte("w3", "b3", 4)}
       |SELECT doc_id, CAST(y AS BIGINT) AS label,
       |       CAST(z >= 0 AS BIGINT) AS predicted
       |FROM z4""".stripMargin
  }

  // -- q123: HORIZON (TTL) near-dup gate, batch twin
  // (streaming.NearDupGate with Horizon) — the bounded-state form of the
  // streaming gate: a shape is suppressed only within 24 h of its last
  // sighting, then its bucket re-seeds. Fixture: the corpus re-delivered
  // twice under new ids — wave 1 at +3 h (inside the horizon -> every
  // re-delivery collides), wave 2 at +30 h (27 h after wave 1's refresh,
  // outside -> re-admitted). The oracle computes the same verdicts
  // through an INDEPENDENT formulation: sliding-TTL suppression ==
  // gaps-and-islands per (band, sig) bucket (islands split where the
  // sighting gap exceeds the ttl; each island's first (ts, id) row is
  // the occupant), over the md5 minhash replica of q21. Admission =
  // no bucket of mine is occupied by someone else. --
  private def q123Stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = docs(s, dir).select($"doc_id", $"text")
    val t0 = 1704067200L // 2024-01-01T00:00:00Z, arbitrary fixed origin
    def wave(idOff: Long, tsOff: Long) = {
      val src = if (idOff == 0) base else base.filter($"doc_id" % 3 === 0)
      src.select(($"doc_id" + idOff).as("doc_id"), $"text",
        timestamp_seconds(lit(t0 + tsOff) + $"doc_id").as("ts"))
    }
    wave(0L, 0L)
      .unionByName(wave(100000L, 10800L))   // +3 h: inside the horizon
      .unionByName(wave(200000L, 108000L))  // +30 h: expired, re-admitted
  }
  private val q123: Q = (s, dir) =>
    graft.streaming.NearDupGate.gate(q123Stream(s, dir), "text", "doc_id",
      horizon = Some(graft.streaming.Horizon("ts", "24 hours")))
  private val q123Sql =
    s"""WITH stream AS (
       |  SELECT doc_id, text, doc_id AS tse FROM documents
       |  UNION ALL SELECT doc_id + 100000, text, 10800 + doc_id FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 200000, text, 108000 + doc_id FROM documents WHERE doc_id % 3 = 0),
       |sigs AS (
       |  SELECT doc_id, tse, band,
       |    list_aggregate(list_transform(dg, d -> substring(d, 1 + 8 * (band - 1), 8)), 'min') AS sig
       |  FROM (SELECT doc_id, tse, list_transform(${dShingles(dTok, 5)}, x -> md5(x)) AS dg FROM stream),
       |       (SELECT unnest([1, 2, 3, 4]) AS band)
       |  WHERE list_aggregate(list_transform(dg, d -> substring(d, 1 + 8 * (band - 1), 8)), 'min') IS NOT NULL),
       |brk AS (
       |  SELECT doc_id, tse, band, sig,
       |    CASE WHEN lag(tse) OVER w IS NULL OR tse - lag(tse) OVER w > 86400
       |         THEN 1 ELSE 0 END AS b
       |  FROM sigs WINDOW w AS (PARTITION BY band, sig ORDER BY tse, doc_id)),
       |isl AS (
       |  SELECT doc_id, tse, band, sig,
       |    sum(b) OVER (PARTITION BY band, sig ORDER BY tse, doc_id
       |                 ROWS UNBOUNDED PRECEDING) AS island
       |  FROM brk),
       |occ AS (
       |  SELECT doc_id,
       |    first_value(doc_id) OVER (PARTITION BY band, sig, island
       |                              ORDER BY tse, doc_id) AS occ_id
       |  FROM isl)
       |SELECT doc_id, bool_and(doc_id = occ_id) AS admitted
       |FROM occ GROUP BY doc_id""".stripMargin

  // -- q124: unigram-LM tokenizer TRAINING (UnigramLm.train) — the
  // SentencePiece-family counterpart to the BPE trainer: seed = top-120
  // substrings (len <= 4) of the distinct-word table plus all single
  // chars, then TWO hard-EM rounds (Viterbi E-step, renormalizing
  // M-step with char-floor smoothing). Cross-engine determinism rides
  // on dyadic log-probs: floor(ln(c/T)*2^20)/2^20 makes every path
  // score an EXACT sum, ties are exact, and the tie-break is the
  // lexicographically smallest space-joined path — so the oracle, which
  // enumerates EVERY segmentation of every word per round via a
  // recursive CTE (bounded: 31 distinct words x <= ~1.5k paths) and
  // picks winners with the same (score desc, path asc) order, walks the
  // identical EM trajectory. Note the seed dedup is an explicit GROUP
  // BY: inside WITH RECURSIVE, DuckDB does not dedup a plain UNION. --
  private val q124: Q = (s, dir) => {
    val vocab = graft.operators.UnigramLm.train(docs(s, dir), "text",
      iterations = 2, maxPieceLen = 4, seedSize = 120, maxWordLen = 12)
    import s.implicits._
    vocab.map(p => (p.piece, p.cnt, p.lqMicro)).toDF("piece", "cnt", "lq_micro")
  }
  /** One oracle EM round: enumerate every segmentation of every word
    * under vocab v`n` (recursive CTE), pick winners by (score desc,
    * path asc), count pieces, keep chars at >= 1. Shared by q124
    * (training output) and q128 (scoring under the trained model). */
  private def uniSeg(n: Int) =
      s"""seg$n AS (
         |  SELECT word, freq, 0 AS pos, CAST(0.0 AS DOUBLE) AS score, '' AS path FROM uwords
         |  UNION ALL
         |  SELECT s.word, s.freq, s.pos + length(v.piece),
         |         s.score + CAST(v.lqm AS DOUBLE) / 1048576.0,
         |         CASE WHEN s.path = '' THEN v.piece ELSE s.path || ' ' || v.piece END
         |  FROM seg$n s JOIN v$n v ON substr(s.word, s.pos + 1, length(v.piece)) = v.piece
         |  WHERE s.pos < length(s.word)),
         |best$n AS (SELECT word, freq, path FROM (
         |    SELECT word, freq, path,
         |           row_number() OVER (PARTITION BY word ORDER BY score DESC, path) rn
         |    FROM seg$n WHERE pos = length(word)) WHERE rn = 1),
         |c$n AS (SELECT piece, sum(freq) AS c FROM (
         |         SELECT freq, unnest(string_split(path, ' ')) AS piece FROM best$n)
         |       GROUP BY 1),
         |k$n AS (SELECT v.piece,
         |              CASE WHEN length(v.piece) = 1 THEN greatest(coalesce(c$n.c, 0), 1)
         |                   ELSE c$n.c END AS c
         |       FROM v$n v LEFT JOIN c$n ON c$n.piece = v.piece
         |       WHERE length(v.piece) = 1 OR coalesce(c$n.c, 0) > 0)""".stripMargin

  /** The q124 training pipeline as CTEs: word table, substring seed,
    * two EM rounds — ending at k2 (final counts). */
  private val uniTrainCtes =
    s"""WITH RECURSIVE uwords AS (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) w FROM documents)
       |  WHERE length(w) <= 12 GROUP BY 1),
       |starts AS (SELECT word, freq, unnest(range(1, length(word) + 1)) AS s FROM uwords),
       |subs AS (SELECT substr(word, s, CAST(l AS INT)) AS piece, sum(freq) AS w
       |         FROM starts, range(1, 5) t(l) WHERE s + l <= length(word) + 1
       |         GROUP BY 1),
       |topn AS (SELECT piece, w FROM subs ORDER BY w DESC, piece LIMIT 120),
       |seed AS (SELECT piece, max(w) AS w FROM (
       |           SELECT piece, w FROM topn
       |           UNION ALL SELECT piece, w FROM subs WHERE length(piece) = 1) u
       |         GROUP BY piece),
       |v1 AS (SELECT piece,
       |              CAST(floor(ln(CAST(w AS DOUBLE) / CAST(t AS DOUBLE)) * 1048576.0) AS BIGINT) AS lqm
       |       FROM seed, (SELECT sum(w) AS t FROM seed)),
       |${uniSeg(1)},
       |v2 AS (SELECT piece,
       |              CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1048576.0) AS BIGINT) AS lqm
       |       FROM k1, (SELECT sum(c) AS t FROM k1)),
       |${uniSeg(2)}""".stripMargin

  private val q124Sql =
    s"""$uniTrainCtes
       |SELECT piece, CAST(c AS BIGINT) AS cnt,
       |       CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1048576.0) AS BIGINT) AS lq_micro
       |FROM k2, (SELECT sum(c) AS t FROM k2)""".stripMargin

  // -- q128: unigram-LM document scoring (UnigramLm.scoreDocs) — the
  // tokenizer-aware quality gate the trained model buys: each doc's
  // letter-run words Viterbi-segment under the q124 vocab and the doc
  // scores the INTEGER sum of its pieces' dyadic log-prob numerators
  // (exact in any aggregation order — no float drift by construction).
  // Oracle: one more enumeration round (v3 = the trained model) over
  // the shared training CTEs, then word scores join back onto the
  // unnested documents. --
  private val q128: Q = (s, dir) => {
    val d = docs(s, dir)
    val vocab = graft.operators.UnigramLm.train(d, "text",
      iterations = 2, maxPieceLen = 4, seedSize = 120, maxWordLen = 12)
    graft.operators.UnigramLm.scoreDocs(d, "text", "doc_id", vocab)
  }
  private val q128Sql =
    s"""$uniTrainCtes,
       |v3 AS (SELECT piece,
       |              CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1048576.0) AS BIGINT) AS lqm
       |       FROM k2, (SELECT sum(c) AS t FROM k2)),
       |${uniSeg(3)},
       |ws AS (SELECT b.word, count(*) AS n_pieces, sum(v.lqm) AS sm
       |       FROM (SELECT word, unnest(string_split(path, ' ')) AS piece FROM best3) b
       |       JOIN v3 v ON v.piece = b.piece GROUP BY 1),
       |dw AS (SELECT doc_id, w FROM (
       |         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |         FROM documents) WHERE length(w) <= 12),
       |ds AS (SELECT dw.doc_id, CAST(sum(ws.n_pieces) AS BIGINT) AS n_pieces,
       |              CAST(sum(ws.sm) AS BIGINT) AS sm
       |       FROM dw JOIN ws ON ws.word = dw.w GROUP BY 1)
       |SELECT d.doc_id, coalesce(ds.n_pieces, 0) AS n_pieces, ds.sm AS score_micro
       |FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id""".stripMargin

  // -- q129: WEIGHTED MinHash signatures (Dedup.weightedMinhashSigs) —
  // consistent weighted sampling over the tf bag: per band the
  // signature is argmin of -ln(u)/tf over distinct tokens (u = exact
  // dyadic md5 uniform, the q115/q116 idiom), so band collision
  // probability is the WEIGHTED Jaccard. Entirely narrow per-row HOFs
  // — zero shuffles for the signature pass. Oracle mirrors the
  // identical double ops; tie-break (v, token) both sides. --
  private val q129: Q = (s, dir) =>
    graft.operators.Dedup.weightedMinhashSigs(docs(s, dir), "text", "doc_id",
      bands = 4)
  private val q129Sql =
    s"""WITH base AS (SELECT * FROM (SELECT doc_id, $dTok AS tk FROM documents)
       |              WHERE len(tk) > 0),
       |dist AS (SELECT doc_id, tk, unnest(list_distinct(tk)) AS t FROM base),
       |vals AS (SELECT doc_id, band, k, t,
       |    -ln((TRY_CAST('0x' || substring(md5(CAST(band AS VARCHAR) || ':' || CAST(k AS VARCHAR) || '|' || t), 1, 8) AS BIGINT) + 0.5) / 4294967296.0)
       |      / len(list_filter(tk, x -> x = t)) AS v
       |  FROM dist, range(1, 5) r(band), range(1, 3) q(k)),
       |wins AS (SELECT doc_id, band, k, t FROM (
       |    SELECT doc_id, band, k, t,
       |      row_number() OVER (PARTITION BY doc_id, band, k ORDER BY v, t) AS rn
       |    FROM vals) WHERE rn = 1)
       |SELECT doc_id, band, string_agg(t, '|' ORDER BY k) AS sig
       |FROM wins GROUP BY doc_id, band""".stripMargin

  // -- q130: quality-winner near-dup prune (Dedup.pruneNearDupsBy) —
  // each q62 cluster keeps its LONGEST member (n_chars desc, id asc)
  // instead of the min id: the "keep the best copy" policy a curation
  // pipeline wants. Oracle: the q62 transitive-closure clusters + the
  // same two-step winner algebra (max score, then min id among maxima)
  // — integers throughout, exact compare. --
  private val q130: Q = (s, dir) =>
    graft.operators.Dedup.pruneNearDupsBy(
        docs(s, dir).select(col("doc_id"), col("text"), col("n_chars")),
        "text", "doc_id", "n_chars")
      .select(col("doc_id"), col("n_chars"))
  private val q130Sql =
    s"""WITH RECURSIVE
       |pairs AS ($q22Sql),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cmembers AS (
       |  SELECT src AS node, dst AS m FROM reach
       |  UNION ALL
       |  SELECT src, src FROM edges),
       |comp AS (SELECT node AS doc_id, min(m) AS cluster FROM cmembers GROUP BY node),
       |mem AS (SELECT c.doc_id, c.cluster, d.n_chars FROM comp c
       |        JOIN documents d ON d.doc_id = c.doc_id),
       |best AS (SELECT cluster, max(n_chars) AS ms FROM mem GROUP BY 1),
       |winners AS (SELECT m.cluster, min(m.doc_id) AS win FROM mem m
       |            JOIN best b ON b.cluster = m.cluster AND m.n_chars = b.ms
       |            GROUP BY 1),
       |losers AS (SELECT m.doc_id FROM mem m
       |           JOIN winners w ON w.cluster = m.cluster
       |           WHERE m.doc_id <> w.win)
       |SELECT doc_id, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  // -- q135: perplexity-bucket partitioning (Quality.scoreBuckets over
  // LangModel.bigramLogProb) — the CCNet recipe: LM-score every doc,
  // cut the corpus into 10 equal-mass quality deciles by EXACT interior
  // quantile thresholds (Percentiles.quantileCont — a distributed sort,
  // not a global ntile), and report per-bucket mass. Ties sit below
  // their threshold, so bucket masses are equal only up to ties — the
  // threshold contract, replayed identically in SQL. Scores are the
  // 6-dp-rounded q87 values, so thresholds (interpolated between two
  // identical doubles) and assignments are bit-identical. --
  private val q135: Q = (s, dir) => {
    // stage boundary (the q108/q142 discipline): the LM scoring
    // pipeline feeds BOTH the threshold pass (scoreBuckets' quantile
    // scan) and the bucket-assignment/report aggregation — un-pinned it
    // evaluated once per action (r19 JobProf: 40 stages, the bigram
    // chain repeated). The pinned frame is 3 narrow columns
    // (id, n_bigrams, avg_lp) — per-doc scores, never corpus text.
    val scored = graft.operators.LangModel
      .bigramLogProb(docs(s, dir), "text", "doc_id")
      .filter(col("n_bigrams") > 0)
      .localCheckpoint()
    graft.operators.Quality.scoreBuckets(scored, "avg_lp", nBuckets = 10)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        round(min(col("avg_lp")), 6).as("min_lp"),
        round(max(col("avg_lp")), 6).as("max_lp"),
        // ordered fold, not avg(): a bare mean sums in partition order
        // and the sf0.01 bucket 2 lands EXACTLY on a 6-dp rounding
        // boundary (measured: ...0425 vs ...0435 across sum orders)
        round(graft.functions.OrderedSum.orderedSumBy(
          col("doc_id"), col("avg_lp"), scored.schema("doc_id").dataType)
          / count(lit(1)), 6).as("mean_lp"))
  }
  private val q135Sql = {
    val tk = dTok
    s"""WITH toks AS (SELECT doc_id, unnest($tk) AS t FROM documents),
       |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY 1),
       |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
       |bis AS (SELECT doc_id, unnest(${dShingles(tk, 2)}) AS bg FROM documents),
       |bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bis GROUP BY 1),
       |lm AS (
       |  SELECT bi.bg, ln(CAST(bi.c2 + 1 AS DOUBLE) / (uni.c1 + voc.v)) AS lp
       |  FROM bi JOIN uni ON split_part(bi.bg, ' ', 1) = uni.t CROSS JOIN voc),
       |sc AS (
       |  SELECT bis.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    round(avg(lm.lp), 6) AS avg_lp
       |  FROM bis JOIN lm USING (bg) GROUP BY 1),
       |th AS (SELECT quantile_cont(avg_lp,
       |         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS ts FROM sc),
       |bk AS (
       |  SELECT sc.*,
       |    1 + len(list_filter(th.ts, t -> sc.avg_lp > t)) AS bucket
       |  FROM sc CROSS JOIN th)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       |  round(min(avg_lp), 6) AS min_lp, round(max(avg_lp), 6) AS max_lp,
       |  round(list_aggregate(list(avg_lp ORDER BY doc_id), 'sum')
       |        / count(*), 6) AS mean_lp
       |FROM bk GROUP BY 1""".stripMargin
  }

  // -- q136: segment-level dedup with reassembly (Dedup.segmentDedup)
  // — the C4/Gopher boilerplate remover: 10-token segments, a segment
  // seen anywhere earlier (global (doc_id, idx) minimum) is dropped,
  // documents rebuilt from the survivors in order. Oracle: the q75
  // chunk-slice algebra + a row_number winner per md5(segment) + a
  // FILTERed ordered list rebuild. --
  private val q136: Q = (s, dir) =>
    graft.operators.Dedup.segmentDedup(
      docs(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id", segTokens = 10)
  private val q136Sql = {
    val tk = dTok
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |idx AS (
       |  SELECT doc_id, tk, unnest(range(0, ((len(tk) - 1) // 10) + 1)) AS i
       |  FROM t WHERE len(tk) > 0),
       |segs AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS ci,
       |    array_to_string(list_slice(tk, i * 10 + 1, i * 10 + 10), ' ') AS seg
       |  FROM idx),
       |mk AS (
       |  SELECT doc_id, ci, seg,
       |    row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, ci) AS rn
       |  FROM segs),
       |reb AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
       |    CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       |    array_to_string(list(seg ORDER BY ci) FILTER (WHERE rn = 1), ' ') AS text
       |  FROM mk GROUP BY 1)
       |SELECT d.doc_id, COALESCE(reb.n_segs, 0) AS n_segs,
       |  COALESCE(reb.n_kept, 0) AS n_kept, COALESCE(reb.text, '') AS text
       |FROM documents d LEFT JOIN reb USING (doc_id)""".stripMargin
  }

  // -- q143: C4-style line-level cleaning (LineFilter.cleanDocs) — the
  // single-line word-soup fixture is re-lined deterministically (6-token
  // chunks; chunk i%3==0 gains terminal '.', i%3==1 stays unpunctuated,
  // i%3==2 gains the blocklisted ' javascript.') so every rule is
  // observable: unpunctuated and blocklisted lines drop, the tail chunk
  // drops when under 5 words, and docs with <2 surviving lines drop
  // entirely. md5(clean) makes the reassembly byte-exact. Oracle: the
  // same chunk algebra + list_filter over string_split lines. --
  private val q143: Q = (s, dir) => {
    import s.implicits._
    // token array staged in its own projection: HOF lambdas don't share
    // codegen subexpressions, so an inline Text.tokens would re-tokenize
    // per chunk (measured 2.2 s -> ~1 s at sf0.1 from this stage alone)
    val tk = $"__tk"
    val raw = docs(s, dir)
      .select($"doc_id", Text.tokens($"text").as("__tk"))
      // zero-token parity note: (size-1)/6 CASTS -0.17 toward zero, so an
      // empty-token doc yields one empty chunk ("." after the i%3 rule);
      // the ORACLE mirrors this with greatest((len-1)//6, 0) — aligning
      // SQL to Spark is free, while guarding the Spark side (when() wrap
      // or an index-filter lambda) measured +1 s at sf0.1 on this query
      .select($"doc_id", array_join(transform(
      sequence(lit(0), ((size(tk) - 1) / 6).cast("int")),
      i => {
        val ln = array_join(slice(tk, i * 6 + 1, lit(6)), " ")
        when(i % 3 === 0, concat(ln, lit(".")))
          .when(i % 3 === 1, ln)
          .otherwise(concat(ln, lit(" javascript.")))
      }), "\n").as("text"))
    graft.operators.LineFilter.cleanDocs(raw, "text")
      .select($"doc_id", $"text".as("clean"), md5($"text").as("clean_md5"),
        $"n_lines_kept")
  }
  private val q143Sql = {
    val tk = dTok
    s"""WITH tkt AS (SELECT doc_id, $tk AS tk FROM documents),
       |raw AS (
       |  SELECT doc_id, array_to_string(list_transform(
       |    range(0, greatest((len(tk) - 1) // 6, 0) + 1),
       |    i -> CASE
       |      WHEN i % 3 = 0
       |        THEN array_to_string(list_slice(tk, i * 6 + 1, i * 6 + 6), ' ') || '.'
       |      WHEN i % 3 = 1
       |        THEN array_to_string(list_slice(tk, i * 6 + 1, i * 6 + 6), ' ')
       |      ELSE array_to_string(list_slice(tk, i * 6 + 1, i * 6 + 6), ' ')
       |        || ' javascript.' END), chr(10)) AS text
       |  FROM tkt),
       |kept AS (
       |  SELECT doc_id, list_filter(string_split(text, chr(10)), ln ->
       |    len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> len(w) > 0)) >= 5
       |    AND regexp_matches(ln, '[.!?]"?$$')
       |    AND NOT contains(lower(ln), 'javascript')) AS lines
       |  FROM raw)
       |SELECT doc_id, array_to_string(lines, chr(10)) AS clean,
       |  md5(array_to_string(lines, chr(10))) AS clean_md5,
       |  CAST(len(lines) AS BIGINT) AS n_lines_kept
       |FROM kept WHERE len(lines) >= 2""".stripMargin
  }

  // -- q144: Gopher-style quality rule flags (Quality.gopherFlags) — the
  // published MassiveWeb heuristics as auditable per-doc signals + keep
  // verdict. The uniform fixture is decorated per doc_id residue so each
  // rule fires somewhere: %5==0 appends 8 '#' words (symbol ratio),
  // %5==1 appends 20 digit words (alpha fraction), %5==3 appends one
  // 600-char word (mean word length), %5==4 truncates to 3 words (word
  // count); %5==2 stays clean. Every signal is an integer-exact fold, so
  // the doubles hash bit-for-bit. --
  /** The q144/q157 shared fixture decoration + Gopher flags, lang kept. */
  private def gopherDecorated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = Text.tokens($"text")
    val raw = docs(s, dir).select($"doc_id", $"lang",
      when($"doc_id" % 5 === 0, concat($"text", lit(" # # # # # # # #")))
        .when($"doc_id" % 5 === 1,
          concat($"text", lit(" 0 1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9")))
        .when($"doc_id" % 5 === 3, concat($"text", lit(" "), repeat(lit("z"), 600)))
        .when($"doc_id" % 5 === 4, array_join(slice(tk, 1, 3), " "))
        .otherwise($"text").as("text"))
    graft.operators.Quality.gopherFlags(raw, "text")
  }
  private val q144: Q = (s, dir) => {
    import s.implicits._
    gopherDecorated(s, dir)
      .select($"doc_id", $"n_words", $"mean_word_len", $"symbol_ratio",
        $"alpha_frac", $"n_stop", $"keep")
  }
  /** The q144/q157 shared CTE chain (decoration + signals + keep). */
  private val gopherCtes = {
    val tk = dTok
    s"""tkt AS (SELECT doc_id, lang, text, $tk AS tk0 FROM documents),
       |raw AS (
       |  SELECT doc_id, lang, CASE
       |    WHEN doc_id % 5 = 0 THEN text || ' # # # # # # # #'
       |    WHEN doc_id % 5 = 1 THEN text || ' 0 1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9'
       |    WHEN doc_id % 5 = 3 THEN text || ' ' || repeat('z', 600)
       |    WHEN doc_id % 5 = 4 THEN array_to_string(list_slice(tk0, 1, 3), ' ')
       |    ELSE text END AS text
       |  FROM tkt),
       |g AS (SELECT doc_id, lang, text, $tk AS tk FROM raw),
       |st0 AS (
       |  SELECT doc_id, lang,
       |    CAST(len(tk) AS BIGINT) AS n_words,
       |    CAST(list_aggregate(list_transform(tk, w -> len(w)), 'sum') AS DOUBLE)
       |      / CAST(len(tk) AS BIGINT) AS mean_word_len,
       |    CAST((len(text) - len(replace(text, '#', '')))
       |      + (len(string_split(text, '...')) - 1) AS DOUBLE)
       |      / CAST(len(tk) AS BIGINT) AS symbol_ratio,
       |    CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
       |      / CAST(len(tk) AS BIGINT) AS alpha_frac,
       |    CAST(len(list_filter(tk, w -> w IN
       |      ('the','be','to','of','and','that','have','with','a','in'))) AS BIGINT) AS n_stop
       |  FROM g),
       |st AS (
       |  SELECT *,
       |    (n_words >= 10 AND n_words <= 100000
       |     AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |     AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
       |  FROM st0)""".stripMargin
  }
  private val q144Sql =
    s"""WITH $gopherCtes
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       |  n_stop, keep
       |FROM st""".stripMargin

  // -- q146: containment-verified near-dup pairs (Dedup.containmentVerified)
  // — the q88 verification stage re-scored with the ASYMMETRIC containment
  // measure |A∩B|/|A| (both directions emitted): the cut that catches
  // subset duplication where symmetric Jaccard under-scores. Same exact
  // set algebra as q88 (identical integer operands → unrounded doubles
  // match bit-for-bit); threshold 0.95 lands inside the corpus's
  // candidate containment spread so the cut is observable. --
  private val q146: Q = (s, dir) =>
    graft.operators.Dedup.containmentVerified(docs(s, dir), "text", "doc_id",
      minContainment = 0.95)
  private val q146Sql =
    s"""WITH pairs AS ($q22Sql),
       |sh AS (SELECT doc_id, list_distinct(${dShingles(dTok, 5)}) AS sh
       |       FROM documents)
       |SELECT * FROM (
       |  SELECT p.doc_a AS doc_id_a, p.doc_b AS doc_id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS containment_a,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) AS containment_b
       |  FROM pairs p JOIN sh a ON p.doc_a = a.doc_id
       |               JOIN sh b ON p.doc_b = b.doc_id)
       |WHERE greatest(containment_a, containment_b) >= 0.95""".stripMargin

  // -- q147: SoftDeDup duplication weights (Dedup.softDedupWeights) —
  // every document down-weighted by its near-dup cluster size
  // (weight = 1/n over q22's LSH pair graph, singletons keep 1.0): the
  // soft alternative to q62's hard loser-drop, preserving the corpus for
  // loss-weighting consumers. Oracle: q62's recursive transitive-closure
  // clusters + a left join for singletons + one count — an independent
  // fixpoint algorithm, so the hash match is a strong check. --
  private val q147: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Dedup.softDedupWeights(
      docs(s, dir), q22(s, dir), "doc_id", "doc_a", "doc_b")
  }
  private val q147Sql =
    s"""WITH RECURSIVE
       |pairs AS ($q22Sql),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |members AS (
       |  SELECT src AS node, dst AS m FROM reach
       |  UNION ALL
       |  SELECT src, src FROM edges),
       |clusters AS (SELECT node, min(m) AS cluster FROM members GROUP BY node),
       |asg AS (
       |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node),
       |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_dups
       |       FROM asg GROUP BY 1)
       |SELECT a.doc_id, a.cluster, s.n_dups,
       |  CAST(1.0 AS DOUBLE) / s.n_dups AS weight
       |FROM asg a JOIN sz s USING (cluster)""".stripMargin

  // -- q148: UniMax sampling plan (Mix.unimaxPlan) — water-filling the
  // 2.0-avg-epoch budget over the fixture's real language skew
  // (en 218 / zh 75 / es 73 / de 70 / fr 64 at sf0.01) with a 3-epoch
  // cap: small languages saturate at cap, the rest split the remainder
  // at the water level. Oracle: the identical window-function
  // formulation (caps ascending; the unique level is the row whose
  // candidate lies between its neighbors' caps) with every operand
  // explicitly DOUBLE (DuckDB decimals would break IEEE parity). --
  private val q148: Q = (s, dir) =>
    graft.operators.Mix.unimaxPlan(docs(s, dir), "lang",
      avgEpochs = 2.0, maxEpochs = 3.0)
  private val q148Sql =
    """WITH langs AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
      |caps AS (
      |  SELECT lang, n_docs,
      |    CAST(n_docs AS DOUBLE) * CAST(3.0 AS DOUBLE) AS cap FROM langs),
      |ord AS (
      |  SELECT lang, n_docs, cap,
      |    CAST(sum(n_docs) OVER () AS DOUBLE) * CAST(2.0 AS DOUBLE) AS budget,
      |    row_number() OVER (ORDER BY cap, lang) AS r,
      |    sum(cap) OVER (ORDER BY cap, lang
      |                   ROWS UNBOUNDED PRECEDING) AS cum,
      |    count(*) OVER () AS nl,
      |    lag(cap, 1) OVER (ORDER BY cap, lang) AS prev_cap
      |  FROM caps),
      |lvl AS (
      |  SELECT min(c) AS level FROM (
      |    SELECT (budget - (cum - cap)) / (nl - r + 1) AS c, cap, prev_cap
      |    FROM ord)
      |  WHERE c <= cap AND (prev_cap IS NULL OR c >= prev_cap))
      |SELECT lang, n_docs, cap,
      |  CASE WHEN level IS NULL THEN cap ELSE least(cap, level) END AS alloc,
      |  CASE WHEN level IS NULL THEN cap ELSE least(cap, level) END
      |    / n_docs AS epochs
      |FROM ord CROSS JOIN lvl""".stripMargin

  // -- q152: split-leakage check — the audit that motivates q154: under
  // the NAIVE per-doc content-addressed split (q52), near-dup twins land
  // in different splits and leak train data into eval. Reports every
  // cross-split near-dup pair (q22 candidates + split labels); a clean
  // corpus/split pair returns zero rows. Cost: two broadcast-size joins
  // onto the LSH pair minority. --
  private val q152: Q = (s, dir) => {
    import s.implicits._
    val sp = graft.operators.Splits.assign(
      docs(s, dir).select($"doc_id"), "doc_id").select($"doc_id", $"split")
    q22(s, dir)
      .join(sp.toDF("doc_a", "split_a"), Seq("doc_a"))
      .join(sp.toDF("doc_b", "split_b"), Seq("doc_b"))
      .filter($"split_a" =!= $"split_b")
      .select($"doc_a", $"doc_b", $"split_a", $"split_b")
  }
  private val q152Sql =
    s"""WITH pairs AS ($q22Sql),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    TRY_CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
       |  FROM documents))
       |SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
       |FROM pairs p JOIN sp a ON p.doc_a = a.doc_id
       |             JOIN sp b ON p.doc_b = b.doc_id
       |WHERE a.split <> b.split""".stripMargin

  // -- q153: TOKEN-weighted UniMax plan (Mix.unimaxPlanBy) — the budget
  // a trainer allocates is tokens, not documents: per-language mass is
  // sum(token count), caps and the water level follow in token units,
  // epochs stays a pure ratio. Same window formulation as q148; masses
  // remain exact integers so the parity contract holds unchanged. --
  private val q153: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Mix.unimaxPlanBy(docs(s, dir), "lang",
      size(Text.tokens($"text")), avgEpochs = 2.0, maxEpochs = 3.0)
  }
  private val q153Sql =
    s"""WITH langs AS (
       |  SELECT lang, CAST(sum(len($dTok)) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |caps AS (
       |  SELECT lang, n_docs,
       |    CAST(n_docs AS DOUBLE) * CAST(3.0 AS DOUBLE) AS cap FROM langs),
       |ord AS (
       |  SELECT lang, n_docs, cap,
       |    CAST(sum(n_docs) OVER () AS DOUBLE) * CAST(2.0 AS DOUBLE) AS budget,
       |    row_number() OVER (ORDER BY cap, lang) AS r,
       |    sum(cap) OVER (ORDER BY cap, lang
       |                   ROWS UNBOUNDED PRECEDING) AS cum,
       |    count(*) OVER () AS nl,
       |    lag(cap, 1) OVER (ORDER BY cap, lang) AS prev_cap
       |  FROM caps),
       |lvl AS (
       |  SELECT min(c) AS level FROM (
       |    SELECT (budget - (cum - cap)) / (nl - r + 1) AS c, cap, prev_cap
       |    FROM ord)
       |  WHERE c <= cap AND (prev_cap IS NULL OR c >= prev_cap))
       |SELECT lang, n_docs, cap,
       |  CASE WHEN level IS NULL THEN cap ELSE least(cap, level) END AS alloc,
       |  CASE WHEN level IS NULL THEN cap ELSE least(cap, level) END
       |    / n_docs AS epochs
       |FROM ord CROSS JOIN lvl""".stripMargin

  // -- q154: leakage-safe splits — the q152 fix: assign the split from
  // the near-dup CLUSTER id (Dedup.clusters min-label + singleton
  // fallback to own id), so every near-dup twin lands in the same split
  // by construction; content-addressing is preserved (md5 of the
  // cluster id), so assignments stay rerun/cluster-size stable. --
  private val q154: Q = (s, dir) => {
    import s.implicits._
    val cl = graft.operators.Dedup.clusters(q22(s, dir), "doc_a", "doc_b")
      .select($"node".as("doc_id"), $"cluster")
    val asg = docs(s, dir).select($"doc_id")
      .join(cl, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster", $"doc_id").as("cluster"))
    graft.operators.Splits.assign(asg, "cluster")
      .select($"doc_id", $"cluster", $"split")
  }
  private val q154Sql =
    s"""WITH RECURSIVE
       |pairs AS ($q22Sql),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |members AS (
       |  SELECT src AS node, dst AS m FROM reach
       |  UNION ALL
       |  SELECT src, src FROM edges),
       |clusters AS (SELECT node, min(m) AS cluster FROM members GROUP BY node),
       |asg AS (
       |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node)
       |SELECT doc_id, cluster,
       |  CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, cluster,
       |  TRY_CAST('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
       |  FROM asg)""".stripMargin

  // -- q155: winnowing fingerprints (Winnow.fingerprints) — the MOSS
  // selection rule over 4-gram md5 hashes with window 4: per-window
  // leftmost minimum, adjacent duplicates collapsed, guaranteeing any
  // shared run of >= w+k-1 tokens shares a fingerprint (the bounded-miss
  // upgrade over q29's global mod-p sampling). Oracle: identical list
  // algebra — range windows, list_slice, 'min' fold, list_position —
  // over the same md5 hex strings (lexicographic min is byte-identical
  // cross-engine on hex). --
  private val q155: Q = (s, dir) =>
    graft.operators.Winnow.fingerprints(docs(s, dir), "text", "doc_id",
      k = 4, w = 4)
  private val q155Sql = {
    val tk = dTok
    s"""WITH hs AS (
       |  SELECT doc_id, list_transform(${dShingles(tk, 4)}, x -> md5(x)) AS hs
       |  FROM documents),
       |sel AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(hs) - 4 + 2),
       |    i -> {'pos': i - 1 + list_position(list_slice(hs, i, i + 3),
       |                     list_aggregate(list_slice(hs, i, i + 3), 'min')),
       |          'fp': list_aggregate(list_slice(hs, i, i + 3), 'min')})) AS s
       |  FROM hs WHERE len(hs) >= 4)
       |SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos, s.fp AS fp
       |FROM sel""".stripMargin
  }

  // -- q156: Jelinek-Mercer interpolated bigram scoring
  // (LangModel.interpolatedLogProb, lambda = 0.7) — the smoothing the
  // held-out case needs: ln(0.7 P_ML(w2|w1) + 0.3 P_uni(w2)). All
  // probabilities are exact-integer ratios; (1 - lambda) is written as
  // the IEEE subtraction in BOTH engines (1.0 - 0.7 is NOT the literal
  // 0.3 in binary), so model scores match bit-for-bit before the shared
  // 6-dp mean round (the q87 device). --
  private val q156: Q = (s, dir) =>
    graft.operators.LangModel.interpolatedLogProb(docs(s, dir), "text", "doc_id")
  private val q156Sql = {
    val tk = dTok
    s"""WITH toks AS (SELECT doc_id, unnest($tk) AS t FROM documents),
       |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
       |bis AS (SELECT doc_id, unnest(${dShingles(tk, 2)}) AS bg FROM documents),
       |bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bis GROUP BY 1),
       |lm AS (
       |  SELECT bi.bg,
       |    ln(CAST(0.7 AS DOUBLE) * (CAST(bi.c2 AS DOUBLE) / u1.c1)
       |       + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
       |         * (CAST(u2.c1 AS DOUBLE) / tot.n)) AS lp
       |  FROM bi JOIN uni u1 ON split_part(bi.bg, ' ', 1) = u1.t
       |          JOIN uni u2 ON split_part(bi.bg, ' ', 2) = u2.t
       |          CROSS JOIN tot),
       |per AS (
       |  SELECT bis.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    round(avg(lm.lp), 6) AS avg_lp_jm
       |  FROM bis JOIN lm USING (bg) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams, per.avg_lp_jm
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin
  }

  // -- q157: per-language curation report over the q144 Gopher flags —
  // the observability face of the rule gate: keep rate and exact signal
  // masses per language (counts and sums are exact integers; kept_rate
  // is one exact-long ratio), the per-slice audit a curation run ships
  // with. Shares q144's decorated frame and CTE chain verbatim. --
  private val q157: Q = (s, dir) => {
    import s.implicits._
    gopherDecorated(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"keep", 1)).as("n_kept"),
        sum($"n_words").as("sum_words"),
        sum($"n_stop").as("sum_stop"))
      .withColumn("kept_rate", $"n_kept".cast("double") / $"n_docs")
  }
  private val q157Sql =
    s"""WITH $gopherCtes
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       |  CAST(sum(n_words) AS BIGINT) AS sum_words,
       |  CAST(sum(n_stop) AS BIGINT) AS sum_stop,
       |  CAST(count(*) FILTER (WHERE keep) AS DOUBLE) / count(*) AS kept_rate
       |FROM st GROUP BY 1""".stripMargin

  // -- q158: corpus-level boilerplate line removal
  // (LineFilter.dropBoilerplate) — the RefinedWeb repeated-line rule: a
  // line present in >= 10 distinct documents (here: a cookie banner
  // injected into every doc) is dropped from ALL of them, unlike
  // q136's keep-first segment policy. Oracle: zipped unnests for line
  // positions (the q91 recipe), distinct-doc df per md5(line), ordered
  // list rebuild. --
  private val q158: Q = (s, dir) => {
    import s.implicits._
    val tk = $"__tk"
    val raw = docs(s, dir)
      .select($"doc_id", Text.tokens($"text").as("__tk"))
      // same zero-token parity device as q143: the oracle mirrors the
      // cast-truncation with greatest((len-1)//6, 0)
      .select($"doc_id", concat(lit("accept all cookies to continue.\n"),
        array_join(transform(sequence(lit(0), ((size(tk) - 1) / 6).cast("int")),
          i => concat(array_join(slice(tk, i * 6 + 1, lit(6)), " "), lit("."))),
          "\n")).as("text"))
    graft.operators.LineFilter.dropBoilerplate(raw, "text", "doc_id", minDf = 10)
      .select($"doc_id", md5($"text").as("clean_md5"),
        $"n_lines_kept", $"n_boiler_dropped")
  }
  private val q158Sql = {
    val tk = dTok
    s"""WITH tkt AS (SELECT doc_id, $tk AS tk FROM documents),
       |raw AS (
       |  SELECT doc_id, 'accept all cookies to continue.' || chr(10) ||
       |    array_to_string(list_transform(range(0, greatest((len(tk) - 1) // 6, 0) + 1),
       |      i -> array_to_string(list_slice(tk, i * 6 + 1, i * 6 + 6), ' ') || '.'),
       |      chr(10)) AS text
       |  FROM tkt),
       |lines AS (
       |  SELECT doc_id,
       |    unnest(string_split(text, chr(10))) AS ln,
       |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i
       |  FROM raw),
       |dfreq AS (SELECT md5(ln) AS h, count(DISTINCT doc_id) AS cnt
       |          FROM lines GROUP BY 1),
       |keep AS (
       |  SELECT l.doc_id, l.i, l.ln
       |  FROM lines l JOIN dfreq d ON md5(l.ln) = d.h WHERE d.cnt < 10),
       |reb AS (
       |  SELECT doc_id, array_to_string(list(ln ORDER BY i), chr(10)) AS text,
       |    CAST(count(*) AS BIGINT) AS n_lines_kept
       |  FROM keep GROUP BY 1),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tot
       |        FROM lines GROUP BY 1)
       |SELECT t.doc_id, md5(COALESCE(reb.text, '')) AS clean_md5,
       |  COALESCE(reb.n_lines_kept, 0) AS n_lines_kept,
       |  t.n_tot - COALESCE(reb.n_lines_kept, 0) AS n_boiler_dropped
       |FROM tot t LEFT JOIN reb USING (doc_id)""".stripMargin
  }

  // -- q165: vocabulary-coverage (OOV) report — the tokenizer-health
  // metric a vocab rollout ships with: vocab = the 10 most frequent
  // corpus words (count desc, word asc — the tie order makes the LIMIT
  // boundary deterministic cross-engine), per-doc token total, covered
  // count, and OOV rate (exact-long ratio). Vocab selection is
  // vocabulary-sized; coverage is one broadcast semi-join on the token
  // stream plus a per-doc count — no corpus shuffle beyond the
  // doc-keyed aggregates. --
  private val q165: Q = (s, dir) => {
    import s.implicits._
    val tok = docs(s, dir).select($"doc_id", explode(Text.tokens($"text")).as("t"))
    val vocab = tok.groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t").limit(10).select($"t")
    val tot = tok.groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
    val kn = tok.join(broadcast(vocab), Seq("t"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_known"))
    tot.join(kn, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_known", lit(0L)).as("n_known"),
        (($"n_tokens" - coalesce($"n_known", lit(0L))).cast("double")
          / $"n_tokens").as("oov_rate"))
  }
  private val q165Sql = {
    val tk = dTok
    s"""WITH tok AS (SELECT doc_id, unnest($tk) AS t FROM documents),
       |vocab AS (SELECT t FROM (
       |  SELECT t, count(*) AS c FROM tok GROUP BY 1
       |  ORDER BY c DESC, t LIMIT 10)),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
       |        FROM tok GROUP BY 1),
       |kn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_known
       |       FROM tok WHERE t IN (SELECT t FROM vocab) GROUP BY 1)
       |SELECT t.doc_id, t.n_tokens, COALESCE(kn.n_known, 0) AS n_known,
       |  CAST(t.n_tokens - COALESCE(kn.n_known, 0) AS DOUBLE) / t.n_tokens
       |    AS oov_rate
       |FROM tot t LEFT JOIN kn USING (doc_id)""".stripMargin
  }

  // -- q166: n-gram novelty audit — the memorization-risk profile
  // (Lee et al. 2022's duplication analysis shape): per document, the
  // fraction of its distinct 8-grams that occur in ANY other document.
  // High shared-fraction docs are the memorization candidates dedup
  // exists to kill; the report quantifies residual duplication after a
  // pipeline runs. One md5-keyed shuffle for the gram document-
  // frequency (map-side combined), one doc-keyed count back. --
  private val q166: Q = (s, dir) => {
    import s.implicits._
    // kernel floor (Par.widen): the tokenize+shingle+distinct kernel
    // runs in the scan stage (measured: a 0.48 s single-task stage)
    val grams = graft.operators.Par.widen(docs(s, dir))
      .select($"doc_id", Text.tokens($"text").as("__tk"))
      .select($"doc_id",
        explode(array_distinct(Text.shinglesNative($"__tk", 8))).as("g"))
    val df8 = grams.groupBy($"g")
      .agg(count(lit(1)).as("df"))
    val per = grams.join(df8, Seq("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when($"df" > 1, 1)).as("n_shared"))
    docs(s, dir).select($"doc_id").join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        when(coalesce($"n_grams", lit(0L)) === 0, lit(null))
          .otherwise($"n_shared".cast("double") / $"n_grams").as("shared_frac"))
  }
  private val q166Sql = {
    val tk = dTok
    s"""WITH grams AS (
       |  SELECT doc_id, unnest(list_distinct(${dShingles(tk, 8)})) AS g
       |  FROM documents),
       |df8 AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM grams GROUP BY 1),
       |per AS (
       |  SELECT grams.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(count(*) FILTER (WHERE df8.df > 1) AS BIGINT) AS n_shared
       |  FROM grams JOIN df8 USING (g) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(per.n_grams, 0) AS n_grams,
       |  COALESCE(per.n_shared, 0) AS n_shared,
       |  CASE WHEN COALESCE(per.n_grams, 0) = 0 THEN NULL
       |       ELSE CAST(per.n_shared AS DOUBLE) / per.n_grams END AS shared_frac
       |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin
  }

  // -- q174: sequence-length curriculum sharding — the published
  // short-to-long curriculum order materialized as training shards:
  // docs sort by (token count, content hash) — the hash tie-break keeps
  // equal-length cohorts deterministic — and pack greedily into
  // 2000-token shards. Spark side is the WINDOW-FREE two-pass prefix
  // sum (Prefix.packIntoShards: range partition + per-partition
  // subtotal offsets — the 100 TB shape); the oracle is the single
  // global window SQL — an independent formulation, so the hash match
  // re-proves the two-pass scan equal to the textbook running sum. --
  private val q174: Q = (s, dir) => {
    import s.implicits._
    val scored = docs(s, dir)
      .select($"doc_id", size(Text.tokens($"text")).cast("long").as("n_tokens"))
      .withColumn("__ord", concat(lpad($"n_tokens".cast("string"), 6, "0"),
        md5($"doc_id".cast("string"))))
    graft.operators.Prefix.packIntoShards(scored, "__ord", "n_tokens",
      budget = 2000L)
      .select($"doc_id", $"n_tokens", $"shard")
  }
  private val q174Sql = {
    val tk = dTok
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len($tk) AS BIGINT) AS n_tokens,
       |    lpad(CAST(len($tk) AS VARCHAR), 6, '0')
       |      || md5(CAST(doc_id AS VARCHAR)) AS ord
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2000) AS BIGINT) AS shard
       |FROM c""".stripMargin
  }

  // -- q176: per-source duplication report — the provenance view of the
  // near-dup graph (which crawl/source ships the boilerplate): per
  // source, docs, near-dup losers (non-representative cluster members),
  // and the exact-ratio dup rate. Counts are exact longs over the q62
  // closure; the report is what a curation run alerts on. --
  private val q176: Q = (s, dir) => {
    import s.implicits._
    val losers = graft.operators.Dedup.clusters(q22(s, dir), "doc_a", "doc_b")
      .where($"cluster" =!= $"node")
      .select($"node".as("doc_id"), lit(1).as("__loser"))
    docs(s, dir).select($"doc_id", $"source")
      .join(losers, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count($"__loser").as("n_dupes"))
      .withColumn("dup_rate", $"n_dupes".cast("double") / $"n_docs")
  }
  private val q176Sql =
    s"""WITH RECURSIVE
       |pairs AS ($q22Sql),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |members AS (
       |  SELECT src AS node, dst AS m FROM reach
       |  UNION ALL
       |  SELECT src, src FROM edges),
       |clusters AS (SELECT node, min(m) AS cluster FROM members GROUP BY node),
       |losers AS (SELECT node AS doc_id FROM clusters WHERE cluster <> node)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(l.doc_id) AS BIGINT) AS n_dupes,
       |  CAST(count(l.doc_id) AS DOUBLE) / count(*) AS dup_rate
       |FROM documents d LEFT JOIN losers l USING (doc_id)
       |GROUP BY 1""".stripMargin

  // -- q177: HTML main-content extraction (Extract.mainContent) — the
  // crawl-pipeline entry stage. Each document is wrapped in a
  // deterministic page: head/title (word-gated out), a 6-link nav bar
  // whose text density is 33/134 ≈ 0.246 < 0.25 (the DENSITY gate, not
  // the word gate, kills it), a <script> tracker and <style> block
  // (dropped wholesale), the doc's tokens re-lined into 8-token <p>
  // blocks (every third gaining encoded entities — decode order
  // observable via md5), and a short &copy; footer (word-gated). The
  // oracle runs the IDENTICAL RE2-compatible regexp/HOF chain in
  // DuckDB (the q143 recipe); md5 + length of the extraction make the
  // match byte-exact. Zero-token docs exercise the empty-page path. --
  private val q177: Q = (s, dir) => {
    import s.implicits._
    val tk = $"__tk"
    val nav = """<div id="nav"><a href="/">Home</a> <a href="/a">About</a> """ +
      """<a href="/b">Contact</a> <a href="/c">Docs</a> """ +
      """<a href="/d">Blog</a> <a href="/e">More</a></div>"""
    val raw = docs(s, dir)
      .select($"doc_id", Text.tokens($"text").as("__tk"))
      .select($"doc_id", concat(
        lit("<html><head><title>Doc "), $"doc_id".cast("string"),
        lit("</title><style>.m{color:red}</style></head><body>"),
        lit(nav),
        lit("<script>var tracker = \""), $"doc_id".cast("string"),
        lit("\";</script>"),
        when(size(tk) === 0, lit("")).otherwise(
          array_join(transform(sequence(lit(0), ((size(tk) - 1) / 8).cast("int")),
            i => concat(lit("<p>"), array_join(slice(tk, i * 8 + 1, lit(8)), " "),
              when(i % 3 === 1,
                lit(" &amp; more &quot;quoted&quot; text")).otherwise(lit("")),
              lit("</p>"))), "")),
        lit("<p>&copy; 2026</p></body></html>")).as("html"))
    graft.operators.Extract.mainContent(raw, "html")
      .select($"doc_id", $"n_blocks", $"n_blocks_kept",
        md5($"text").as("text_md5"), length($"text").as("text_len"))
  }
  private val q177Sql = {
    val tk = dTok
    val nav = """<div id="nav"><a href="/">Home</a> <a href="/a">About</a> """ +
      """<a href="/b">Contact</a> <a href="/c">Docs</a> """ +
      """<a href="/d">Blog</a> <a href="/e">More</a></div>"""
    s"""WITH tkt AS (SELECT doc_id, $tk AS tk FROM documents),
       |raw AS (
       |  SELECT doc_id,
       |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
       |    || '</title><style>.m{color:red}</style></head><body>'
       |    || '$nav'
       |    || '<script>var tracker = "' || CAST(doc_id AS VARCHAR) || '";</script>'
       |    || CASE WHEN len(tk) = 0 THEN '' ELSE
       |         array_to_string(list_transform(range(0, ((len(tk) - 1) // 8) + 1),
       |           i -> '<p>' || array_to_string(list_slice(tk, i * 8 + 1, i * 8 + 8), ' ')
       |             || CASE WHEN i % 3 = 1
       |                THEN ' &amp; more &quot;quoted&quot; text' ELSE '' END
       |             || '</p>'), '') END
       |    || '<p>&copy; 2026</p></body></html>' AS html
       |  FROM tkt),
       |nos AS (SELECT doc_id, ${dDropNonContent("html")} AS h FROM raw),
       |blk AS (SELECT doc_id, string_split_regex(h,
       |  '(?i)</?(?:blockquote|br|section|article|header|footer|table|nav|pre|div|ul|ol|li|tr|td|th|p|h[1-6])[^>]*>') AS blocks
       |  FROM nos),
       |bt AS (SELECT doc_id, list_transform(blocks, b -> struct_pack(
       |    txt := trim(regexp_replace(
       |      replace(replace(replace(replace(replace(replace(
       |        regexp_replace(b, '<[^>]*>', ' ', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |      '&nbsp;', ' '), '&amp;', '&'),
       |      '\\s+', ' ', 'g')),
       |    raw := len(b))) AS bt
       |  FROM blk),
       |agg AS (SELECT doc_id,
       |  list_filter(bt, e -> e.txt <> '') AS nonempty,
       |  list_filter(bt, e -> e.txt <> ''
       |    AND len(string_split(e.txt, ' ')) >= 5
       |    AND CAST(len(e.txt) AS DOUBLE) / greatest(e.raw, 1) >= 0.25) AS kept
       |  FROM bt)
       |SELECT doc_id, CAST(len(nonempty) AS INT) AS n_blocks,
       |  CAST(len(kept) AS INT) AS n_blocks_kept,
       |  md5(array_to_string(list_transform(kept, e -> e.txt), chr(10))) AS text_md5,
       |  CAST(len(array_to_string(list_transform(kept, e -> e.txt), chr(10))) AS INT) AS text_len
       |FROM agg""".stripMargin
  }

  // -- q178: link extraction + crawl-frontier report — the OTHER half
  // of what a crawler takes from a page (q177 takes the text): every
  // anchor href (entities decoded — '&amp;' inside query strings is the
  // normal case), canonicalized through the q80 UrlOps chain (case,
  // default ports, www., fragment, tracking params, param order,
  // trailing slash), aggregated into the per-domain frontier view a
  // crawl scheduler consumes. Three links per doc exercise scheme/port/
  // path-shape variety; the oracle repeats extraction + decode +
  // normalize chain + aggregate in DuckDB. explode_outer + null filter
  // (the Chunk device) keeps the regexp_extract_all out of an
  // InferFiltersFromGenerate inline. --
  /** The q178/q205 link-frontier frame: synthesized pages → extracted
    * hrefs → (doc_id, url_norm, domain), one row per link. */
  private def linkFrontierFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id = $"doc_id".cast("string")
    val raw = docs(s, dir).select($"doc_id",
      concat(
        lit("<html><head><title>Doc &amp; "), id,
        lit("</title></head><body><p>See "),
        lit("<a href=\"HTTPS://WWW."), upper($"source"),
        lit(".Example.COM:443/read/"), id,
        lit("?b=2&amp;utm_source=feed&amp;a=1#s\">more</a> and "),
        lit("<a href=\"http://cdn.example.net/img/"), id,
        lit(".png\">img</a> plus "),
        lit("<a href=\"https://example.org/t/"), ($"doc_id" % 7).cast("string"),
        lit("/\">topic</a>"),
        lit("</p></body></html>")).as("html"))
    val lk = raw
      .select($"doc_id", graft.operators.Extract.links($"html").as("__links"))
      .select($"doc_id", explode_outer($"__links").as("link"))
      .filter($"link".isNotNull)
    lk.select($"doc_id",
        graft.operators.UrlOps.normalizeUrl($"link").as("url_norm"),
        graft.operators.UrlOps.domainOf($"link").as("domain"))
  }
  /** The frontier aggregation both q178 and q205 end in. */
  private def frontierAgg(links: DataFrame): DataFrame =
    links.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("url_norm")).as("sample_url"))
  private val q178: Q = (s, dir) => frontierAgg(linkFrontierFrame(s, dir))
  private val q178Sql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    '<html><head><title>Doc &amp; ' || CAST(doc_id AS VARCHAR)
      |    || '</title></head><body><p>See '
      |    || '<a href="HTTPS://WWW.' || upper(source)
      |    || '.Example.COM:443/read/' || CAST(doc_id AS VARCHAR)
      |    || '?b=2&amp;utm_source=feed&amp;a=1#s">more</a> and '
      |    || '<a href="http://cdn.example.net/img/' || CAST(doc_id AS VARCHAR)
      |    || '.png">img</a> plus '
      |    || '<a href="https://example.org/t/' || CAST(doc_id % 7 AS VARCHAR)
      |    || '/">topic</a>'
      |    || '</p></body></html>' AS html
      |  FROM documents),
      |lk AS (
      |  SELECT doc_id,
      |    replace(replace(replace(replace(replace(replace(u,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&') AS url
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(html,
      |          '(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"', 1)) AS u
      |        FROM raw)),
      |nf AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u FROM lk),
      |parts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
      |  FROM nf),
      |comp AS (
      |  SELECT doc_id, scheme,
      |    regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')), '^www\.', '') AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
      |    regexp_replace(regexp_replace('&' || regexp_extract(rest, '\?(.*)$', 1),
      |      '&(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g'), '^&', '') AS query
      |  FROM parts),
      |normed AS (
      |  SELECT doc_id,
      |    scheme || '://' || host ||
      |    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
      |          AND NOT (scheme = 'https' AND port = '443')
      |         THEN ':' || port ELSE '' END ||
      |    path ||
      |    CASE WHEN query = '' THEN ''
      |         ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END AS url_norm,
      |    host AS domain
      |  FROM comp)
      |SELECT domain, CAST(count(*) AS BIGINT) AS n_links,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  min(url_norm) AS sample_url
      |FROM normed GROUP BY 1""".stripMargin

  // -- q205: BLOCKLISTED crawl frontier — q178's frontier with the
  // blocklist gate applied at LINK granularity before scheduling:
  // 'example.net' takes the CDN subdomain via parent-suffix match,
  // 'example.org' exactly — the remaining frontier is only the
  // srcN.example.com content domains. The gate is BlocklistGate's
  // literal-InSet form (valid in batch AND streaming plans — a filter,
  // so link rows never need ids the way the id-anti-join batch gate
  // does). Oracle: the q178 CTE chain with the same NOT EXISTS
  // (suffix LIKE) predicate spliced before the aggregation. --
  private val q205: Q = (s, dir) => {
    import s.implicits._
    val blocked = Seq("example.net", "example.org").toDF("domain")
    frontierAgg(graft.streaming.BlocklistGate.admitted(
      linkFrontierFrame(s, dir), "url_norm", blocked))
  }
  private val q205Sql = q178Sql.replace(
    "FROM normed GROUP BY 1",
    """FROM normed
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM (VALUES ('example.net'), ('example.org')) b(dom)
      |  WHERE normed.domain = b.dom OR normed.domain LIKE '%.' || b.dom)
      |GROUP BY 1""".stripMargin)

  // -- q179: crawl-pipeline FLAGSHIP — the end-to-end composition the
  // round-12 entry stage exists for: raw HTML (duplicate-injected: a
  // +100000 re-crawl copy of every page) → Extract.mainContent (nav
  // killed by density, script/style/footer dropped) → LineFilter
  // .cleanDocs (unpunctuated and blocklisted lines fall, <2-line docs
  // fall) → Dedup.exactByText (the re-crawl copies collapse onto their
  // min-id originals). Every stage is a proven oracle piece (q177 +
  // q143 + q20); the composition hash proves they compose. Chunks get
  // the q143 i%3 decorations so each line rule is observable. --
  private val q179: Q = (s, dir) => {
    import s.implicits._
    val base = docs(s, dir).select($"doc_id", $"source", $"text")
    val corpus = base.unionByName(
      base.select(($"doc_id" + 100000L).as("doc_id"), $"source", $"text"))
    val tk = $"__tk"
    val nav = """<div id="nav"><a href="/">Home</a> <a href="/a">About</a> """ +
      """<a href="/b">Contact</a> <a href="/c">Docs</a> """ +
      """<a href="/d">Blog</a> <a href="/e">More</a></div>"""
    val raw = corpus
      .select($"doc_id", $"source", Text.tokens($"text").as("__tk"))
      .select($"doc_id", $"source", concat(
        lit("<html><head><style>nav{x:1}</style></head><body>"), lit(nav),
        lit("<script>track();</script>"),
        array_join(transform(sequence(lit(0), ((size(tk) - 1) / 6).cast("int")),
          i => {
            val ln = array_join(slice(tk, i * 6 + 1, lit(6)), " ")
            concat(lit("<p>"),
              when(i % 3 === 0, concat(ln, lit(".")))
                .when(i % 3 === 1, ln)
                .otherwise(concat(ln, lit(" javascript."))),
              lit("</p>"))
          }), ""),
        lit("<p>&copy; 2026</p></body></html>")).as("html"))
    val ext = graft.operators.Extract.mainContent(raw, "html")
    val cleaned = graft.operators.LineFilter.cleanDocs(ext, "text")
    graft.operators.Dedup.exactByText(cleaned, "text", "doc_id")
      .select($"doc_id", $"source", $"n_lines_kept",
        md5($"text").as("clean_md5"))
  }
  private val q179Sql = {
    val tk = dTok
    val nav = """<div id="nav"><a href="/">Home</a> <a href="/a">About</a> """ +
      """<a href="/b">Contact</a> <a href="/c">Docs</a> """ +
      """<a href="/d">Blog</a> <a href="/e">More</a></div>"""
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, source, text FROM documents),
       |tkt AS (SELECT doc_id, source, $tk AS tk FROM corpus),
       |rawh AS (
       |  SELECT doc_id, source,
       |    '<html><head><style>nav{x:1}</style></head><body>'
       |    || '$nav'
       |    || '<script>track();</script>'
       |    || array_to_string(list_transform(
       |         range(0, greatest((len(tk) - 1) // 6, 0) + 1),
       |         i -> '<p>' || CASE
       |           WHEN i % 3 = 0
       |             THEN array_to_string(list_slice(tk, i * 6 + 1, i * 6 + 6), ' ') || '.'
       |           WHEN i % 3 = 1
       |             THEN array_to_string(list_slice(tk, i * 6 + 1, i * 6 + 6), ' ')
       |           ELSE array_to_string(list_slice(tk, i * 6 + 1, i * 6 + 6), ' ')
       |             || ' javascript.' END || '</p>'), '')
       |    || '<p>&copy; 2026</p></body></html>' AS html
       |  FROM tkt),
       |nos AS (SELECT doc_id, source, ${dDropNonContent("html")} AS h FROM rawh),
       |blk AS (SELECT doc_id, source, string_split_regex(h,
       |  '(?i)</?(?:blockquote|br|section|article|header|footer|table|nav|pre|div|ul|ol|li|tr|td|th|p|h[1-6])[^>]*>') AS blocks
       |  FROM nos),
       |bt AS (SELECT doc_id, source, list_transform(blocks, b -> struct_pack(
       |    txt := trim(regexp_replace(
       |      replace(replace(replace(replace(replace(replace(
       |        regexp_replace(b, '<[^>]*>', ' ', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |      '&nbsp;', ' '), '&amp;', '&'),
       |      '\\s+', ' ', 'g')),
       |    raw := len(b))) AS bt
       |  FROM blk),
       |ext AS (SELECT doc_id, source,
       |  array_to_string(list_transform(list_filter(bt, e -> e.txt <> ''
       |    AND len(string_split(e.txt, ' ')) >= 5
       |    AND CAST(len(e.txt) AS DOUBLE) / greatest(e.raw, 1) >= 0.25),
       |    e -> e.txt), chr(10)) AS text
       |  FROM bt),
       |kept AS (
       |  SELECT doc_id, source, text, list_filter(string_split(text, chr(10)), ln ->
       |    len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> len(w) > 0)) >= 5
       |    AND regexp_matches(ln, '[.!?]"?$$')
       |    AND NOT contains(lower(ln), 'javascript')) AS lines
       |  FROM ext),
       |cl AS (
       |  SELECT doc_id, source, array_to_string(lines, chr(10)) AS clean,
       |    CAST(len(lines) AS BIGINT) AS n_lines_kept
       |  FROM kept
       |  WHERE len(lines) >= 2
       |    AND NOT contains(lower(text), 'lorem ipsum')
       |    AND NOT contains(text, '{')),
       |dd AS (
       |  SELECT doc_id, source, n_lines_kept, clean,
       |    row_number() OVER (
       |      PARTITION BY md5(trim(regexp_replace(lower(clean), '\\s+', ' ', 'g')))
       |      ORDER BY doc_id) AS rn
       |  FROM cl)
       |SELECT doc_id, source, n_lines_kept, md5(clean) AS clean_md5
       |FROM dd WHERE rn = 1""".stripMargin
  }

  // -- q180: τ-TARGETED weighted near-dup candidates — the tuneBands
  // S-curve solve driving a real pairing end-to-end: the caller asks
  // for threshold τ = 0.7 over a 16-draw budget and the knee solve
  // picks (bands, rows) = (4, 4) ((1/4)^(1/4) = 0.707 — the closest
  // knee), which feeds weightedMinhashSigs + the generic
  // candidatesFromSigs bucket pairing. The oracle hardcodes the SAME
  // (4, 4) the deterministic solve must produce — a different answer
  // from tuneBands shifts every signature and the hash catches it —
  // then repeats the q129 draw algebra at 4 rows and the q131 distinct
  // pair join. --
  private val q180: Q = (s, dir) => {
    val (b, r) = graft.operators.Dedup.tuneBands(0.7, nDraws = 16)
    val sigs = graft.operators.Dedup.weightedMinhashSigs(
      docs(s, dir), "text", "doc_id", bands = b, rows = r)
    graft.operators.Dedup.candidatesFromSigs(sigs, "doc_id")
  }
  private val q180Sql =
    s"""WITH base AS (SELECT * FROM (SELECT doc_id, $dTok AS tk FROM documents)
       |              WHERE len(tk) > 0),
       |dist AS (SELECT doc_id, tk, unnest(list_distinct(tk)) AS t FROM base),
       |vals AS (SELECT doc_id, band, k, t,
       |    -ln((TRY_CAST('0x' || substring(md5(CAST(band AS VARCHAR) || ':' || CAST(k AS VARCHAR) || '|' || t), 1, 8) AS BIGINT) + 0.5) / 4294967296.0)
       |      / len(list_filter(tk, x -> x = t)) AS v
       |  FROM dist, range(1, 5) r(band), range(1, 5) q(k)),
       |wins AS (SELECT doc_id, band, k, t FROM (
       |    SELECT doc_id, band, k, t,
       |      row_number() OVER (PARTITION BY doc_id, band, k ORDER BY v, t) AS rn
       |    FROM vals) WHERE rn = 1),
       |sig AS (SELECT doc_id, band, string_agg(t, '|' ORDER BY k) AS sig
       |        FROM wins GROUP BY doc_id, band)
       |SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |FROM sig a JOIN sig b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin

  // -- q181: contamination sign-off dashboard — the one-page report a
  // training run gates on, all three decontamination modes side by
  // side: exact n-gram (q69's check), MinHash near-dup (q102's — the
  // paraphrase leak exact grams miss), semantic cosine (q139's — the
  // translation/reword leak both miss). One row per mode: docs checked,
  // docs flagged, worst evidence. The oracle embeds the three PROVEN
  // mode SQLs verbatim and aggregates — so this hash simultaneously
  // re-proves all three and their composition. Aggregation-only on top
  // of the modes' own scale postures (each corpus-side plan unchanged). --
  private val q181: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val exact = graft.operators.Decontam.overlapStats(
        d.filter($"doc_id" % 97 =!= 0), d.filter($"doc_id" % 97 === 0),
        "text", "doc_id", n = 3, threshold = 0.05)
      .agg(count(lit(1)).as("n_checked"),
        sum(when($"contaminated", 1L).otherwise(0L)).as("n_flagged"),
        round(max($"contamination"), 6).as("worst"))
      .select(lit("exact_ngram").as("mode"), $"n_checked", $"n_flagged", $"worst")
    val near = {
      val corpus = d.filter($"doc_id" % 10 =!= 0)
      val flags = graft.operators.Decontam.nearDupOverlap(
        corpus, d.filter($"doc_id" % 10 === 0), "text", "doc_id")
      corpus.agg(count(lit(1)).as("n_checked"))
        .crossJoin(flags.agg(
          countDistinct($"doc_id").as("n_flagged"),
          round(coalesce(max($"jaccard"), lit(0.0)), 6).as("worst")))
        .select(lit("near_dup").as("mode"), $"n_checked", $"n_flagged", $"worst")
    }
    val sem = {
      val e = graft.Tables.load(s, dir, "embeddings")
      graft.operators.Decontam.semanticOverlap(
          e.filter($"vec_id" % 10 =!= 0), e.filter($"vec_id" % 10 === 0),
          "vec_id", "embedding", tau = 0.9)
        .agg(count(lit(1)).as("n_checked"),
          sum(when($"contaminated", 1L).otherwise(0L)).as("n_flagged"),
          max($"max_cos").as("worst"))
        .select(lit("semantic").as("mode"), $"n_checked", $"n_flagged", $"worst")
    }
    exact.unionByName(near).unionByName(sem)
  }
  private lazy val q181Sql =
    s"""WITH e AS ($q69Sql),
       |nd AS (${IncrementalOps.q102Sql}),
       |sem AS (${VectorOps.q139Sql})
       |SELECT 'exact_ngram' AS mode, CAST(count(*) AS BIGINT) AS n_checked,
       |  CAST(count(*) FILTER (WHERE contaminated) AS BIGINT) AS n_flagged,
       |  round(max(contamination), 6) AS worst FROM e
       |UNION ALL
       |SELECT 'near_dup',
       |  (SELECT count(*) FROM documents WHERE doc_id % 10 <> 0),
       |  CAST(count(DISTINCT doc_id) AS BIGINT),
       |  round(coalesce(max(jaccard), 0.0), 6) FROM nd
       |UNION ALL
       |SELECT 'semantic', CAST(count(*) AS BIGINT),
       |  CAST(count(*) FILTER (WHERE contaminated) AS BIGINT),
       |  max(max_cos) FROM sem""".stripMargin

  // -- q184: TRAINED language ID (LangId) — char-trigram one-vs-rest
  // logistic regression over the hashing trick, the fastText langid
  // recipe and the upgrade q26's marker heuristic exists to baseline:
  // languages sharing a vocabulary are inseparable by word counts but
  // separable by character statistics. Trains 5 binary models (2 GD
  // iterations, lr 0.5, dim 64) on ONE shared char-trigram feature
  // pass, predicts by margin argmax (ties to the earlier language in
  // en/de/es/fr/zh order). Oracle: the q120 unrolled-GD recipe x5
  // languages over shared feature CTEs — every gradient, margin, and
  // the final CASE re-derived in SQL, so predictions are hash-exact
  // (discrete argmax absorbs last-ulp noise the q92 way). The fixture's
  // lang labels are text-independent (no marker words, uniform char
  // stats), so the trained argmax correctly converges to the majority
  // class here — this query pins ENGINE PARITY of the whole training
  // computation; LangIdSpec's disjoint-alphabet fixture pins that the
  // same code learns perfectly when signal exists. --
  // Training is capped to the doc_id < 5000 LABELED SET (the whole
  // fixture at driver scale factors, a fixed-size subset under ScaleUp
  // replication): the trainer's per-bucket ordered-fold state is
  // O(labeled docs per bucket) BY CONTRACT — labeled sets do not grow
  // with the corpus; inference (the zero-shuffle kernel pass) is what
  // rides the 100x corpus.
  private val langIdLangs = Seq("en", "de", "es", "fr", "zh")
  private val q184: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val m = graft.operators.LangId.train(d.filter($"doc_id" < 5000),
      "text", "lang", "doc_id",
      langIdLangs, dim = 64, n = 3, iterations = 2, lr = 0.5)
    graft.operators.LangId.predict(d, "text", "doc_id", m)
      .join(d.select($"doc_id", $"lang"), Seq("doc_id"))
      .select($"doc_id", $"pred", $"lang", ($"pred" === $"lang").as("agree"))
  }
  private val q184Sql = {
    // per-language unrolled 2-iteration GD over the shared feature CTEs
    // (x: normalized char-trigram bucket counts; m: labeled-set size)
    def gradCte(l: String, r: String, n: Int): String =
      s"""g$n$l AS (
         |  SELECT x.b, list_aggregate(list($r.r * x.x ORDER BY x.doc_id), 'sum')
         |           / (SELECT m FROM m) AS g
         |  FROM x JOIN $r USING (doc_id) GROUP BY x.b),
         |gb$n$l AS (SELECT list_aggregate(list(r ORDER BY doc_id), 'sum')
         |           / (SELECT m FROM m) AS g FROM $r)""".stripMargin
    def zCte(l: String, w: String, b: String, n: Int): String =
      s"""z$n$l AS (
         |  SELECT d.doc_id, (SELECT bias FROM $b) + COALESCE(f.z, 0.0) AS z
         |  FROM d LEFT JOIN (
         |    SELECT x.doc_id,
         |      list_aggregate(list(COALESCE($w.w, 0.0) * x.x ORDER BY x.b), 'sum') AS z
         |    FROM x LEFT JOIN $w USING (b) GROUP BY x.doc_id) f USING (doc_id))""".stripMargin
    def langCtes(l: String): String =
      s"""d$l AS (SELECT doc_id, CASE WHEN lang = '$l' THEN CAST(1 AS DOUBLE)
         |              ELSE CAST(0 AS DOUBLE) END AS y FROM dt),
         |r1$l AS (SELECT doc_id, CAST(0.5 AS DOUBLE) - y AS r FROM d$l),
         |${gradCte(l, s"r1$l", 1)},
         |w1$l AS (SELECT b, -CAST(0.5 AS DOUBLE) * g AS w FROM g1$l),
         |b1$l AS (SELECT -CAST(0.5 AS DOUBLE) * g AS bias FROM gb1$l),
         |${zCte(l, s"w1$l", s"b1$l", 2)},
         |r2$l AS (SELECT z.doc_id, 1.0/(1.0 + exp(-z.z)) - dl.y AS r
         |         FROM z2$l z JOIN d$l dl USING (doc_id)),
         |${gradCte(l, s"r2$l", 2)},
         |w2$l AS (SELECT b, COALESCE(w1$l.w, 0.0) - CAST(0.5 AS DOUBLE)
         |           * COALESCE(g2$l.g, 0.0) AS w
         |         FROM w1$l FULL JOIN g2$l USING (b)),
         |b2$l AS (SELECT (SELECT bias FROM b1$l) - CAST(0.5 AS DOUBLE) * g AS bias
         |         FROM gb2$l),
         |${zCte(l, s"w2$l", s"b2$l", 3)}""".stripMargin
    val Seq(en, de, es, fr, zh) = langIdLangs.map(l => s"z3$l.z")
    s"""WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
       |ch AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
       |         THEN list_transform(range(1, len(t) - 1), i -> substring(t, i, 3))
       |         ELSE [t] END) AS tok
       |       FROM d),
       |sp AS (SELECT doc_id,
       |         CAST(TRY_CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 64 AS INT) AS b,
       |         count(*) AS c
       |       FROM ch GROUP BY 1, 2),
       |n AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 1 END AS n
       |      FROM d),
       |x AS (SELECT sp.doc_id, sp.b, CAST(sp.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS x
       |      FROM sp JOIN n USING (doc_id)),
       |dt AS (SELECT doc_id, lang FROM d WHERE doc_id < 5000),
       |m AS (SELECT count(*) AS m FROM dt),
       |${langIdLangs.map(langCtes).mkString(",\n")},
       |pred AS (
       |  SELECT d.doc_id, d.lang,
       |    CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
       |         WHEN $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
       |         WHEN $es >= $fr AND $es >= $zh THEN 'es'
       |         WHEN $fr >= $zh THEN 'fr'
       |         ELSE 'zh' END AS pred
       |  FROM d ${langIdLangs.map(l => s"JOIN z3$l ON d.doc_id = z3$l.doc_id").mkString(" ")})
       |SELECT doc_id, pred, lang, (pred = lang) AS agree FROM pred""".stripMargin
  }

  // -- q186: retrieval-quality evaluation (RankEval) — MRR + binary
  // nDCG@10 per query term, the alerting metric a retrieval stack
  // watches across index/scoring changes. Rankings: q82's BM25 weights
  // for the corpus's 5 hottest tokens (the q119 term-selection replay),
  // rank = (bm25 desc, doc_id); relevance: tf >= 3 (correlated with but
  // NOT identical to the dl-normalized ranking — the metrics are
  // non-trivial). All folds rank-ascending in both engines; the one
  // libm log2 is absorbed by round(,6), the q87 precedent. --
  private val q186: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val terms = d.select(explode(Text.tokens($"text")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t").limit(5)
      .collect().map(_.getString(0)).toSeq
    val w = graft.operators.Bm25.weights(d, "text", "doc_id")
      .filter($"token".isin(terms: _*))
    val ranked = w.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"token").orderBy($"bm25".desc, $"id")))
    val rel = w.filter($"tf" >= 3).select($"token", $"id")
    graft.operators.RankEval.metrics(ranked, rel, "token", "id", "rank", k = 10)
      .select($"token", $"n_rel",
        round($"mrr", 6).as("mrr"), round($"ndcg", 6).as("ndcg"))
  }
  private val q186Sql =
    s"""WITH base AS (SELECT doc_id, $dTok AS tk FROM documents),
       |tq AS (SELECT unnest(tk) AS t FROM base),
       |terms AS (SELECT t FROM (SELECT t, count(*) AS c FROM tq GROUP BY 1
       |          ORDER BY c DESC, t LIMIT 5)),
       |tok AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS token
       |        FROM base),
       |tf AS (SELECT token, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok WHERE token IN (SELECT t FROM terms) GROUP BY 1, 2, 3),
       |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(avg(len(tk)) AS DOUBLE) AS avgdl FROM base),
       |w AS (SELECT tf.token, tf.doc_id, tf.tf,
       |        round(ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1) *
       |              (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / st.avgdl)),
       |              6) AS w
       |      FROM tf JOIN dft USING (token) CROSS JOIN st),
       |rk AS (SELECT token, doc_id,
       |         row_number() OVER (PARTITION BY token
       |             ORDER BY w DESC, doc_id) AS r
       |       FROM w),
       |rel AS (SELECT token, doc_id FROM w WHERE tf >= 3),
       |hits AS (SELECT rk.token, list(rk.r ORDER BY rk.r) AS rs
       |         FROM rk JOIN rel ON rk.token = rel.token
       |                         AND rk.doc_id = rel.doc_id
       |         WHERE rk.r <= 10 GROUP BY 1),
       |per AS (SELECT token,
       |          CAST(1 AS DOUBLE) / rs[1] AS mrr,
       |          list_aggregate(list_transform(rs,
       |            x -> CAST(1 AS DOUBLE) / log2(CAST(x AS DOUBLE) + 1)),
       |            'sum') AS dcg
       |        FROM hits),
       |nr AS (SELECT token, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1)
       |SELECT q.token,
       |  COALESCE(nr.n_rel, 0) AS n_rel,
       |  round(COALESCE(per.mrr, 0.0), 6) AS mrr,
       |  round(CASE WHEN COALESCE(nr.n_rel, 0) > 0
       |    THEN COALESCE(per.dcg, 0.0) /
       |      list_aggregate(list_transform(
       |        range(1, CAST(least(nr.n_rel, 10) AS INT) + 1),
       |        x -> CAST(1 AS DOUBLE) / log2(CAST(x AS DOUBLE) + 1)), 'sum')
       |    ELSE 0.0 END, 6) AS ndcg
       |FROM (SELECT token FROM rk UNION SELECT token FROM rel) q
       |LEFT JOIN nr ON q.token = nr.token
       |LEFT JOIN per ON q.token = per.token""".stripMargin

  // -- q190: GRADED-relevance retrieval evaluation
  // (RankEval.gradedMetrics) — standard-gains nDCG@10 ((2^gain−1)
  // discounted by log₂(rank+1), ideal = judged gains sorted desc) plus
  // average precision@10 (MAP's per-query value), over the same q186
  // BM25 rankings; judgments are graded by capped term frequency
  // (gain = min(tf, 3), judged where tf >= 2 — correlated with but not
  // identical to the dl-normalized ranking). Every sum is an ordered
  // list fold in both engines (rank-ascending for DCG/AP, position-
  // ascending for the ideal); libm log2/pow absorbed by round(,6). --
  private val q190: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val terms = d.select(explode(Text.tokens($"text")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t").limit(5)
      .collect().map(_.getString(0)).toSeq
    val w = graft.operators.Bm25.weights(d, "text", "doc_id")
      .filter($"token".isin(terms: _*))
    val ranked = w.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"token").orderBy($"bm25".desc, $"id")))
    val rel = w.filter($"tf" >= 2)
      .select($"token", $"id", least($"tf", lit(3L)).cast("double").as("gain"))
    graft.operators.RankEval.gradedMetrics(
        ranked, rel, "token", "id", "rank", "gain", k = 10)
      .select($"token", $"n_rel",
        round($"ap", 6).as("ap"), round($"ndcg", 6).as("ndcg"))
  }
  private val q190Sql =
    s"""WITH base AS (SELECT doc_id, $dTok AS tk FROM documents),
       |tq AS (SELECT unnest(tk) AS t FROM base),
       |terms AS (SELECT t FROM (SELECT t, count(*) AS c FROM tq GROUP BY 1
       |          ORDER BY c DESC, t LIMIT 5)),
       |tok AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS token
       |        FROM base),
       |tf AS (SELECT token, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok WHERE token IN (SELECT t FROM terms) GROUP BY 1, 2, 3),
       |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(avg(len(tk)) AS DOUBLE) AS avgdl FROM base),
       |w AS (SELECT tf.token, tf.doc_id, tf.tf,
       |        round(ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1) *
       |              (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / st.avgdl)),
       |              6) AS w
       |      FROM tf JOIN dft USING (token) CROSS JOIN st),
       |rk AS (SELECT token, doc_id,
       |         row_number() OVER (PARTITION BY token
       |             ORDER BY w DESC, doc_id) AS r
       |       FROM w),
       |rel AS (SELECT token, doc_id, CAST(LEAST(tf, 3) AS DOUBLE) AS g
       |        FROM w WHERE tf >= 2),
       |hits AS (SELECT rk.token,
       |           list(rk.r ORDER BY rk.r) AS rs,
       |           list(rel.g ORDER BY rk.r) AS gs
       |         FROM rk JOIN rel ON rk.token = rel.token
       |                         AND rk.doc_id = rel.doc_id
       |         WHERE rk.r <= 10 GROUP BY 1),
       |per AS (SELECT token,
       |          list_aggregate(list_transform(range(1, len(rs) + 1),
       |            i -> (pow(2, gs[i]) - 1) /
       |                 log2(CAST(rs[i] AS DOUBLE) + 1)), 'sum') AS dcg,
       |          list_aggregate(list_transform(range(1, len(rs) + 1),
       |            i -> CAST(i AS DOUBLE) / rs[i]), 'sum') AS apnum
       |        FROM hits),
       |nr AS (SELECT token, CAST(count(*) AS BIGINT) AS n_rel,
       |         list(g ORDER BY g DESC) AS gd FROM rel GROUP BY 1),
       |ideal AS (SELECT token, list_aggregate(list_transform(
       |            range(1, CAST(LEAST(len(gd), 10) AS INT) + 1),
       |            i -> (pow(2, gd[i]) - 1) /
       |                 log2(CAST(i AS DOUBLE) + 1)), 'sum') AS idcg
       |          FROM nr)
       |SELECT q.token,
       |  COALESCE(nr.n_rel, 0) AS n_rel,
       |  round(CASE WHEN COALESCE(nr.n_rel, 0) > 0
       |    THEN COALESCE(per.apnum, 0.0) / CAST(LEAST(nr.n_rel, 10) AS DOUBLE)
       |    ELSE 0.0 END, 6) AS ap,
       |  round(CASE WHEN COALESCE(nr.n_rel, 0) > 0
       |    THEN COALESCE(per.dcg, 0.0) / ideal.idcg
       |    ELSE 0.0 END, 6) AS ndcg
       |FROM (SELECT token FROM rk UNION SELECT token FROM rel) q
       |LEFT JOIN nr ON q.token = nr.token
       |LEFT JOIN per ON q.token = per.token
       |LEFT JOIN ideal ON q.token = ideal.token""".stripMargin

  // -- q194: corpus data card (CorpusReport.build) — the observability
  // pass a curation run publishes beside its output: doc counts,
  // emptiness, exact-dup mass, token totals/mean/exact quantiles, and
  // per-lang / per-source composition as one long (section, key, value)
  // frame (diffable across snapshots by joining on the key pair). Every
  // cell is exact or q58-proven interpolation, so the whole card
  // hash-matches. Oracle: the same aggregates as UNION ALL branches over
  // one tokenized CTE. --
  private val q194: Q = (s, dir) =>
    graft.operators.CorpusReport.build(docs(s, dir), "text", "doc_id",
      langCol = Some("lang"), sourceCol = Some("source"))
  /** Card-oracle CTE chain over source CTE `src`, names suffixed `_$t`
    * so two cards compose in one statement (q195's diff). Final frame:
    * `card_$t` (section, key, value). */
  private def dCardCtes(src: String, t: String): String =
    s"""b_$t AS (SELECT doc_id, text,
       |  CASE WHEN text IS NULL THEN 0 ELSE len($dTok) END AS n
       |  FROM $src),
       |s_$t AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |        CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_empty,
       |        CAST(sum(n) AS DOUBLE) AS tok_total,
       |        CAST(count(text) AS DOUBLE) AS n_text,
       |        CAST(count(DISTINCT md5(text)) AS DOUBLE) AS n_distinct
       |      FROM b_$t),
       |q_$t AS (SELECT quantile_cont(n, 0.5) AS p50,
       |             quantile_cont(n, 0.9) AS p90 FROM b_$t),
       |card_$t AS (
       |SELECT 'corpus' AS section, 'n_docs' AS key, n_docs AS value FROM s_$t
       |UNION ALL SELECT 'corpus', 'n_empty', n_empty FROM s_$t
       |UNION ALL SELECT 'corpus', 'exact_dup_docs', n_text - n_distinct FROM s_$t
       |UNION ALL SELECT 'tokens', 'total', tok_total FROM s_$t
       |UNION ALL SELECT 'tokens', 'mean', tok_total / n_docs FROM s_$t
       |UNION ALL SELECT 'tokens', 'p50', p50 FROM q_$t
       |UNION ALL SELECT 'tokens', 'p90', p90 FROM q_$t
       |UNION ALL SELECT 'lang', coalesce(lang, 'null'),
       |  CAST(count(*) AS DOUBLE) FROM $src GROUP BY lang
       |UNION ALL SELECT 'source', coalesce(source, 'null'),
       |  CAST(count(*) AS DOUBLE) FROM $src GROUP BY source)""".stripMargin
  private val q194Sql =
    s"""WITH d AS (SELECT * FROM documents),
       |${dCardCtes("d", "0")}
       |SELECT * FROM card_0""".stripMargin

  // -- q195: card DIFF (CorpusReport.diff) — build the card before and
  // after a min-token quality gate and join on (section, key): the diff
  // answers "what did the gate do to the corpus" (how much token mass
  // went, whether one language was hit disproportionately, how the
  // length quantiles moved). Absent cells stay NULL on their side —
  // absence is a fact (a vanished language), not a zero. Oracle: two
  // card CTE chains + FULL OUTER JOIN on the key pair. --
  private val q195: Q = (s, dir) => {
    val d = docs(s, dir)
    val gated = d.filter(size(Text.tokens(col("text"))) >= 30)
    def card(df: DataFrame) = graft.operators.CorpusReport.build(
      df, "text", "doc_id", langCol = Some("lang"), sourceCol = Some("source"))
    graft.operators.CorpusReport.diff(card(d), card(gated))
  }
  private val q195Sql =
    s"""WITH d AS (SELECT * FROM documents),
       |g AS (SELECT * FROM documents WHERE len($dTok) >= 30),
       |${dCardCtes("d", "b")},
       |${dCardCtes("g", "a")}
       |SELECT coalesce(cb.section, ca.section) AS section,
       |       coalesce(cb.key, ca.key) AS key,
       |       cb.value AS "before", ca.value AS "after",
       |       ca.value - cb.value AS delta
       |FROM card_b cb FULL OUTER JOIN card_a ca
       |  ON cb.section = ca.section AND cb.key = ca.key""".stripMargin

  // -- q207: persisted card STORE round-trip (CorpusReport.writeCard →
  // diffSnapshots) — q195's gate diff computed across STORED snapshots
  // instead of in-session frames: both cards are published into the
  // hive-partitioned store (overwrite-idempotent per snapshot, the
  // crash-retry discipline the lifecycle spec pins), then the diff READS
  // THE ARTIFACT back — so the hash match pins the full
  // publish→inventory→read→diff cycle, exactly what a cross-run or
  // batch-vs-stream card comparison exercises. Gate at 50 tokens
  // (distinct from q195's 30, so the two queries answer under different
  // cuts). Oracle: q195's double card-CTE chain + FULL OUTER JOIN with
  // the gate swapped — the oracle never sees the store, which is the
  // point: stored-and-read-back must equal freshly-computed. --
  private val q207: Q = (s, dir) => {
    val path = Tables.scratch(s, dir, "cardstore")
    val d = docs(s, dir)
    val gated = d.filter(size(Text.tokens(col("text"))) >= 50)
    def card(df: DataFrame) = graft.operators.CorpusReport.build(
      df, "text", "doc_id", langCol = Some("lang"), sourceCol = Some("source"))
    graft.operators.CorpusReport.writeCard(card(d), path, "full")
    graft.operators.CorpusReport.writeCard(card(gated), path, "gated")
    graft.operators.CorpusReport.diffSnapshots(s, path, "full", "gated")
  }
  private val q207Sql =
    q195Sql.replace(s"len($dTok) >= 30", s"len($dTok) >= 50")

  // -- q208: declarative data-quality checks (Checks.run, the
  // Deequ-style "unit tests for data" gate a corpus runs before
  // anything trains on it) — nine constraints over documents in ONE
  // aggregation pass: completeness ratios, exact uniqueness (doc_id a
  // key; lang deliberately failing — 5 distinct / corpus), range
  // violations (one failing cut at 40 chars, one passing at 100k), an
  // exact-integer mean band, and anchored-regex well-formedness. Every
  // observed value is a count, one IEEE division of exact counts, or an
  // exact-integer sum divided once — cross-engine bit-reproducible.
  // Oracle: one aggregate CTE + one UNION ALL row per check. --
  private val q208: Q = (s, dir) => {
    import graft.operators.Checks._
    run(docs(s, dir), Seq(
      Complete("text", 1.0),
      Complete("lang", 0.999),
      Unique("doc_id", 1.0),
      Unique("lang", 0.5),
      ValuesBetween("n_chars", 1, 40),
      ValuesBetween("n_chars", 1, 100000),
      MeanBetween("n_chars", 100.0, 400.0),
      MatchesRegex("lang", "[a-z]{2}", 0.999),
      MatchesRegex("source", "src[0-9]+", 1.0)))
  }
  private val q208Sql =
    """WITH s AS (
      |  SELECT count(*) AS n,
      |    count(text) AS nn_text, count(lang) AS nn_lang,
      |    count(doc_id) AS nn_id, count(source) AS nn_src,
      |    count(n_chars) AS nn_nc,
      |    count(DISTINCT doc_id) AS d_id, count(DISTINCT lang) AS d_lang,
      |    sum(CASE WHEN n_chars IS NOT NULL AND
      |      (CAST(n_chars AS DOUBLE) < 1 OR CAST(n_chars AS DOUBLE) > 40)
      |      THEN 1 ELSE 0 END) AS viol_40,
      |    sum(CASE WHEN n_chars IS NOT NULL AND
      |      (CAST(n_chars AS DOUBLE) < 1 OR CAST(n_chars AS DOUBLE) > 100000)
      |      THEN 1 ELSE 0 END) AS viol_big,
      |    sum(CAST(n_chars AS DOUBLE)) AS sum_nc,
      |    sum(CASE WHEN lang IS NOT NULL AND
      |      regexp_matches(lang, '^([a-z]{2})$') THEN 1 ELSE 0 END) AS m_lang,
      |    sum(CASE WHEN source IS NOT NULL AND
      |      regexp_matches(source, '^(src[0-9]+)$') THEN 1 ELSE 0 END) AS m_src
      |  FROM documents)
      |SELECT 'complete' AS "check", 'text' AS "column",
      |  CAST(nn_text AS DOUBLE) / n AS observed,
      |  CAST(nn_text AS DOUBLE) / n >= 1.0 AS passed FROM s
      |UNION ALL SELECT 'complete', 'lang', CAST(nn_lang AS DOUBLE) / n,
      |  CAST(nn_lang AS DOUBLE) / n >= 0.999 FROM s
      |UNION ALL SELECT 'unique', 'doc_id', CAST(d_id AS DOUBLE) / nn_id,
      |  CAST(d_id AS DOUBLE) / nn_id >= 1.0 FROM s
      |UNION ALL SELECT 'unique', 'lang', CAST(d_lang AS DOUBLE) / nn_lang,
      |  CAST(d_lang AS DOUBLE) / nn_lang >= 0.5 FROM s
      |UNION ALL SELECT 'between', 'n_chars', CAST(viol_40 AS DOUBLE),
      |  viol_40 = 0 FROM s
      |UNION ALL SELECT 'between', 'n_chars', CAST(viol_big AS DOUBLE),
      |  viol_big = 0 FROM s
      |UNION ALL SELECT 'mean', 'n_chars', sum_nc / nn_nc,
      |  sum_nc / nn_nc >= 100.0 AND sum_nc / nn_nc <= 400.0 FROM s
      |UNION ALL SELECT 'regex', 'lang', CAST(m_lang AS DOUBLE) / nn_lang,
      |  CAST(m_lang AS DOUBLE) / nn_lang >= 0.999 FROM s
      |UNION ALL SELECT 'regex', 'source', CAST(m_src AS DOUBLE) / nn_src,
      |  CAST(m_src AS DOUBLE) / nn_src >= 1.0 FROM s""".stripMargin

  // -- q209: card-DRIFT gate (Checks.drift over CorpusReport.diff) —
  // the alarm half of the card family: q195's 30-token gate diff judged
  // against per-cell relative tolerances. n_docs moves ~22% (passes at
  // 0.5), token mass ~8% (passes at 0.2), the en language count moves
  // ~23% and FAILS its 0.1 budget — the "gate hit one language
  // disproportionately" alarm firing; n_empty pins the zero-before
  // rule (0 admits only 0), the 'ghost' tolerance names a cell no card
  // computes and fails with a NULL observation (a tolerance nobody
  // checks is a config bug surfaced). Oracle: q195's double card-CTE
  // chain + a VALUES tolerance list LEFT JOINed onto the diff. --
  private val q209: Q = (s, dir) => {
    val d = docs(s, dir)
    val gated = d.filter(size(Text.tokens(col("text"))) >= 30)
    def card(df: DataFrame) = graft.operators.CorpusReport.build(
      df, "text", "doc_id", langCol = Some("lang"), sourceCol = Some("source"))
    graft.operators.Checks.drift(
      graft.operators.CorpusReport.diff(card(d), card(gated)), Seq(
        ("corpus", "n_docs", 0.5), ("corpus", "n_empty", 0.0),
        ("tokens", "total", 0.2), ("tokens", "mean", 0.3),
        ("lang", "en", 0.1), ("quality", "ghost", 1.0)))
  }
  private val q209Sql =
    s"""WITH d AS (SELECT * FROM documents),
       |g AS (SELECT * FROM documents WHERE len($dTok) >= 30),
       |${dCardCtes("d", "b")},
       |${dCardCtes("g", "a")},
       |diff AS (
       |SELECT coalesce(cb.section, ca.section) AS section,
       |       coalesce(cb.key, ca.key) AS key,
       |       cb.value AS bv, ca.value AS av, ca.value - cb.value AS dv
       |FROM card_b cb FULL OUTER JOIN card_a ca
       |  ON cb.section = ca.section AND cb.key = ca.key),
       |tol(section, key, max_rel) AS (VALUES
       |  ('corpus', 'n_docs', 0.5), ('corpus', 'n_empty', 0.0),
       |  ('tokens', 'total', 0.2), ('tokens', 'mean', 0.3),
       |  ('lang', 'en', 0.1), ('quality', 'ghost', 1.0))
       |SELECT t.section, t.key, f.bv AS "before", f.av AS "after",
       |  f.dv AS delta,
       |  coalesce(abs(f.dv) <= t.max_rel * abs(f.bv), false) AS passed
       |FROM tol t LEFT OUTER JOIN diff f
       |  ON t.section = f.section AND t.key = f.key""".stripMargin

  // -- q215: exact dedup with a KEEP-BEST policy (Dedup.exactByTextBy)
  // — identical texts differ in what rides them, and the curation rule
  // is "keep the best-provenance copy", not "keep the lowest id": the
  // corpus is documents plus a simulated RE-CRAWL of docs < 250 (same
  // text, new id, source 'recrawl', score 1 vs 0), so each re-crawled
  // group keeps the FRESH copy while min-id dedup would keep the stale
  // one. Winner algebra = max score per fingerprint, min id among the
  // maxima — two aggregates + a semi-join, no per-group window funnel
  // (the pruneNearDupsBy scale shape at the exact-dup layer). --
  private val q215: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val re = d.filter($"doc_id" < 250).select(
      ($"doc_id" + 10000L).as("doc_id"), $"text",
      lit("recrawl").as("source"))
    val corpus = d.select($"doc_id", $"text", $"source").unionByName(re)
      .withColumn("score",
        when($"source" === "recrawl", 1L).otherwise(0L))
    graft.operators.Dedup.exactByTextBy(corpus, "text", "doc_id", "score")
      .select($"doc_id", $"source", $"score")
  }
  private val q215Sql =
    """WITH c AS (
      |  SELECT doc_id, text, source, CAST(0 AS BIGINT) AS score
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text, 'recrawl', CAST(1 AS BIGINT)
      |  FROM documents WHERE doc_id < 250),
      |f AS (SELECT *,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM c),
      |b AS (SELECT fp, max(score) AS ms FROM f GROUP BY fp),
      |w AS (SELECT f.fp, min(f.doc_id) AS wid
      |      FROM f JOIN b ON f.fp = b.fp AND f.score = b.ms
      |      GROUP BY f.fp)
      |SELECT doc_id, source, score FROM f
      |WHERE doc_id IN (SELECT wid FROM w)""".stripMargin

  // -- q214: corpus card with the DOMAIN section (CorpusReport.build
  // urlCol=) — the crawl-ops dimension: per-domain doc counts for the
  // top-7 domains (count desc, domain asc at the boundary — 100
  // (source, lang) domains at every SF, so the cut and the `__other`
  // rollup are both real), plus `__n_domains` exact and `__other`
  // always present. Unlike lang/source the domain cardinality grows
  // with a crawl, so the section caps at top-k — the card stays
  // report-sized at any corpus. Oracle: q194's card CTEs + the same
  // group/sort-limit/rollup over the derived host. --
  private val q214: Q = (s, dir) => {
    val d = docs(s, dir).withColumn("url",
      concat(lit("https://"), lower(col("source")), lit("."), col("lang"),
        lit(".example.org/p/"), col("doc_id").cast("string")))
    graft.operators.CorpusReport.build(d, "text", "doc_id",
      langCol = Some("lang"), sourceCol = Some("source"),
      urlCol = Some("url"), domainTopK = 7)
  }
  private val q214Sql =
    s"""WITH d AS (SELECT * FROM documents),
       |${dCardCtes("d", "0")},
       |h AS (SELECT lower(source) || '.' || lang || '.example.org' AS key
       |      FROM d),
       |g AS (SELECT key, count(*) AS n FROM h GROUP BY key),
       |t AS (SELECT key, n FROM g ORDER BY n DESC, key LIMIT 7),
       |tt AS (SELECT count(*) AS nd, sum(n) AS tot FROM g),
       |ts AS (SELECT coalesce(sum(n), 0) AS ts FROM t)
       |SELECT * FROM card_0
       |UNION ALL SELECT 'domain' AS section, key, CAST(n AS DOUBLE) AS value
       |  FROM t
       |UNION ALL SELECT 'domain', '__n_domains', CAST(nd AS DOUBLE) FROM tt
       |UNION ALL SELECT 'domain', '__other', CAST(tot - ts AS DOUBLE)
       |  FROM tt, ts""".stripMargin

  // -- q213: sentence-boundary RAG chunking (Chunk.bySentence) — the
  // meaning-unit splitter: sentences (terminator+whitespace, RE2-shared
  // regex), overlong sentences force-split at 16 tokens, pieces packed
  // greedily into ≤48-token chunks. The fixture text carries no
  // punctuation, so the query first injects deterministic sentence
  // boundaries (a period after every 'the' — same regexp_replace both
  // engines); the greedy recurrence is SEQUENTIAL by nature, so the
  // oracle replays it as a recursive CTE over per-doc piece indexes
  // (depth = max pieces per doc — the q206 recursion precedent) while
  // Spark runs it as a per-row aggregate() fold. Chunk text re-joins
  // tokens with single spaces on both sides. --
  private val q213: Q = (s, dir) => {
    val punctuated = docs(s, dir)
      .withColumn("text", regexp_replace(col("text"), "\\bthe\\b", "the."))
      .select(col("doc_id"), col("text"))
    graft.operators.Chunk.bySentence(punctuated, "text",
        maxTokens = 48, maxSentenceTokens = 16)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        col("chunk_tokens"))
  }
  private val q213Sql = sentenceChunkSql(
    "regexp_replace(text, '\\bthe\\b', 'the.', 'g')")

  /** The recursive-CTE replay of Chunk.bySentence (force-split 16, pack
    * 48) over `textExpr` of documents — shared by q213 (injected
    * punctuation) and q216 (raw text through the Pipeline stage). */
  private def sentenceChunkSql(textExpr: String): String = {
    def dTokOf(e: String) =
      s"list_filter(string_split_regex($e, '\\s+'), t -> len(t) > 0)"
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, $textExpr AS t2
       |  FROM documents),
       |m AS (SELECT doc_id,
       |  regexp_replace(t2, '([.!?])\\s+', '\\1' || chr(31), 'g') AS mk
       |  FROM d),
       |s AS (SELECT doc_id, list_filter(
       |  list_transform(string_split(mk, chr(31)), x -> ${dTokOf("x")}),
       |  a -> len(a) > 0) AS sents FROM m),
       |p0 AS (SELECT doc_id, flatten(list_transform(sents,
       |  a -> list_transform(range(0, ((len(a)-1)//16)+1),
       |    i -> list_slice(a, CAST(i*16+1 AS INT), CAST(i*16+16 AS INT)))))
       |  AS pieces FROM s),
       |px AS (SELECT doc_id, unnest(list_transform(range(1, len(pieces)+1),
       |  i -> {'pidx': i, 'toks': pieces[CAST(i AS INT)]})) AS u FROM p0),
       |p AS (SELECT doc_id, u.pidx AS pidx, u.toks AS toks,
       |  len(u.toks) AS plen FROM px),
       |rec AS (
       |  SELECT doc_id, pidx, toks, plen, 0 AS chunk, plen AS run
       |  FROM p WHERE pidx = 1
       |  UNION ALL
       |  SELECT p.doc_id, p.pidx, p.toks, p.plen,
       |    CASE WHEN r.run + p.plen > 48 THEN r.chunk + 1 ELSE r.chunk END,
       |    CASE WHEN r.run + p.plen > 48 THEN p.plen
       |         ELSE r.run + p.plen END
       |  FROM rec r JOIN p ON p.doc_id = r.doc_id AND p.pidx = r.pidx + 1)
       |SELECT doc_id, CAST(chunk AS BIGINT) AS chunk_idx,
       |  string_agg(array_to_string(toks, ' '), ' ' ORDER BY pidx)
       |    AS chunk_text,
       |  CAST(sum(plen) AS BIGINT) AS chunk_tokens
       |FROM rec GROUP BY doc_id, chunk""".stripMargin
  }

  // -- q216: the chunkSentences PIPELINE stage — the config-level twin
  // of q213: a two-line config (read → chunkSentences) must be exactly
  // the operator with the text column rebound to the chunk text. The
  // fixture text carries no punctuation, so each document is one
  // sentence force-split at 16 tokens and packed at 48 — the same
  // recursive-CTE oracle as q213 minus the punctuation injection
  // (sentenceChunkSql is shared). What this pins beyond q213 is the
  // STAGE WIRING: tokenizer → registry → Chunk.bySentence call with
  // config params, the row-multiplying explode semantics included. --
  private val q216: Q = (s, dir) => {
    graft.Pipeline.run(s, dir,
        "read table=documents\n" +
          "chunkSentences maxTokens=48 maxSentenceTokens=16\n")
      .select(col("doc_id"), col("chunk_idx"),
        col("text").as("chunk_text"), col("chunk_tokens"))
  }
  private val q216Sql = sentenceChunkSql("text")

  // -- q222: weighted sampling without replacement (Efraimidis &
  // Spirakis 2006, Sample.weightedSample) — the quality-weighted corpus
  // subsample: each doc draws the exponential key -ln(u)/w from its
  // deterministic md5 uniform and its TTR weight, the 50 smallest keys
  // win. The oracle replays the identical arithmetic (same md5 slice,
  // same (h+1)/2^32 uniform, structurally identical -ln(u)/w) and takes
  // the same LIMIT; keys round to 6 decimals on BOTH sides so a ulp of
  // libm ln divergence can't break the value hash (selection order has
  // gaps >> ulp). Spark-side cost: one narrow key column + the
  // heap-aggregate top-n — no global sort, the corpus never moves. --
  private val q222: Q = (s, dir) => {
    val tk = Text.tokens(col("text"))
    val weighted = docs(s, dir)
      .filter(size(tk) > 0)
      .select(col("doc_id"),
        (size(array_distinct(tk)).cast("double") / size(tk)).as("w"))
    graft.operators.Sample.weightedSample(weighted, "doc_id", "w", n = 50)
      .select(col("doc_id"), round(col("sample_key"), 6).as("sample_key"))
  }
  private val q222Sql =
    s"""WITH w AS (SELECT doc_id,
       |    CAST(len(list_distinct($dTok)) AS DOUBLE) / len($dTok) AS wgt
       |  FROM documents WHERE len($dTok) > 0),
       |k AS (SELECT doc_id,
       |    -ln((TRY_CAST('0x' || substring(
       |        md5(CAST(doc_id AS VARCHAR) || ':'), 1, 8) AS BIGINT)
       |      + 1.0) / 4294967296.0) / wgt AS key
       |  FROM w)
       |SELECT doc_id, round(key, 6) AS sample_key
       |FROM k ORDER BY key LIMIT 50""".stripMargin

  // -- q224: weighted sampling with a STRING id (the readWarc shape:
  // record ids are opaque strings) — the hashed-detour path of
  // Sample.weightedSample: the heap ranks xxhash64 stand-ins, winning
  // hashes broadcast-semi-join back, an exact bounded re-selection
  // returns the true n smallest keys. The draw hashes the id's STRING
  // form, so the oracle is the SAME arithmetic as q222 over the string
  // id directly (sort-limit — it never sees the detour); agreement pins
  // that the stand-in machinery changes nothing observable. Weight =
  // document length, so long docs dominate the draw. --
  private val q224: Q = (s, dir) => {
    val d = docs(s, dir)
      .select(concat(lit("<urn:doc:"), col("doc_id").cast("string"),
        lit(">")).as("rid"),
        length(col("text")).cast("double").as("w"))
    graft.operators.Sample.weightedSample(d, "rid", "w", n = 50)
      .select(col("rid"), round(col("sample_key"), 6).as("sample_key"))
  }
  private val q224Sql =
    """WITH w AS (SELECT '<urn:doc:' || CAST(doc_id AS VARCHAR) || '>'
      |    AS rid, CAST(len(text) AS DOUBLE) AS wgt
      |  FROM documents WHERE len(text) > 0),
      |k AS (SELECT rid,
      |    -ln((TRY_CAST('0x' || substring(
      |        md5(rid || ':'), 1, 8) AS BIGINT)
      |      + 1.0) / 4294967296.0) / wgt AS key
      |  FROM w)
      |SELECT rid, round(key, 6) AS sample_key
      |FROM k ORDER BY key LIMIT 50""".stripMargin

  // -- q228: per-GROUP weighted sampling (Sample.weightedSampleByGroup)
  // — the stratified quality-weighted draw: 10 TTR-weighted winners PER
  // LANGUAGE, one k-bounded heap per group so the shuffle carries
  // groups × n entries, never the population. Oracle: the identical
  // key arithmetic ranked by a per-language window — the reference
  // algorithm the heap replaces at scale. Keys round to 6 dp both
  // sides (the q222 ulp discipline). --
  private val q228: Q = (s, dir) => {
    val tk = Text.tokens(col("text"))
    val weighted = docs(s, dir)
      .filter(size(tk) > 0)
      .select(col("lang"), col("doc_id"),
        (size(array_distinct(tk)).cast("double") / size(tk)).as("w"))
    graft.operators.Sample.weightedSampleByGroup(
      weighted, Seq("lang"), "doc_id", "w", n = 10)
      .select(col("lang"), col("doc_id"),
        round(col("sample_key"), 6).as("sample_key"))
  }
  private val q228Sql =
    s"""WITH w AS (SELECT lang, doc_id,
       |    CAST(len(list_distinct($dTok)) AS DOUBLE) / len($dTok) AS wgt
       |  FROM documents WHERE len($dTok) > 0),
       |k AS (SELECT lang, doc_id,
       |    -ln((TRY_CAST('0x' || substring(
       |        md5(CAST(doc_id AS VARCHAR) || ':'), 1, 8) AS BIGINT)
       |      + 1.0) / 4294967296.0) / wgt AS key
       |  FROM w),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY key) AS rn FROM k)
       |SELECT lang, doc_id, round(key, 6) AS sample_key
       |FROM r WHERE rn <= 10""".stripMargin

  // -- q230: tokenizer round trip (Tokenizer.decode ∘ Tokenizer.encode)
  // — detokenization, the inverse a pipeline needs to render packed
  // model tokens back into inspectable text, pinned by the strongest
  // property there is: decode(encode(text)) must equal the RAW TABLE
  // on every document, hash-exactly, entirely in-plan (ids < 256 are
  // bytes, 256+rank the merge products; reassembly at the byte layer
  // through one plan-constant table). The oracle is simply the table —
  // any dropped, duplicated, reordered, or mismapped token anywhere in
  // pretokenize → merge → ids → bytes → UTF-8 breaks the hash. --
  private val q230: Q = (s, dir) => {
    val m = graft.queries.IncrementalOps.Merges
    graft.operators.Tokenizer.decode(
      graft.operators.Tokenizer.encode(docs(s, dir), "text", m),
      "token_ids", m, "rt")
      .select(col("doc_id"), col("rt").as("text"))
  }
  private val q230Sql = "SELECT doc_id, text FROM documents"

  // -- q196: token-budget selection (Mix.selectByTokenBudget) — the
  // "assemble the B-token training set from a scored corpus" step:
  // documents ranked by type-token ratio (deterministic ties by id),
  // kept while the running token total fits the budget, cut strictly.
  // The running total is Prefix.cumsum's two-pass scan, not a global
  // window. Oracle: the same cumulative sum as a DuckDB window over the
  // unique (score DESC, doc_id) order — RANGE==ROWS when the order key
  // is unique, so the frames agree. --
  private val q196: Q = (s, dir) => {
    val tk = Text.tokens(col("text"))
    val scored = docs(s, dir)
      .select(col("doc_id"), size(tk).cast("long").as("n_tokens"),
        (size(array_distinct(tk)).cast("double") / size(tk)).as("score"))
      .filter(col("n_tokens") > 0)
    graft.operators.Mix.selectByTokenBudget(
      scored, "score", "n_tokens", "doc_id", 10000L)
  }
  private val q196Sql =
    s"""WITH b AS (SELECT doc_id,
       |    CAST(len($dTok) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct($dTok)) AS DOUBLE) / len($dTok) AS score
       |  FROM documents WHERE len($dTok) > 0),
       |c AS (SELECT *, CAST(sum(n_tokens)
       |    OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens FROM b)
       |SELECT doc_id, n_tokens, score, cum_tokens FROM c
       |WHERE cum_tokens <= 10000""".stripMargin

  // -- q197: cross-corpus overlap report (CorpusReport.overlap) — the
  // merge-planning statistic for a new snapshot: distinct-fingerprint
  // counts per side, shared count, Jaccard, containment both ways, one
  // row. The "snapshot" here keeps docs < 300 verbatim, re-crawls
  // docs >= 400 with edited text, and re-delivers docs < 50 (duplicate
  // mass that must NOT inflate overlap — counts are distinct-based).
  // Oracle: the same fingerprint sets as DISTINCT CTEs + scalar
  // subquery counts. --
  /** Simulated re-crawl snapshot (q197/q199): docs < 300 verbatim,
    * docs >= 400 re-crawled with edited text, docs < 50 re-delivered. */
  private def snapshot(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.filter(col("doc_id") < 300)
      .unionByName(d.filter(col("doc_id") >= 400)
        .withColumn("text", concat(col("text"), lit(" v2"))))
      .unionByName(d.filter(col("doc_id") < 50))
  }
  private val q197: Q = (s, dir) =>
    graft.operators.CorpusReport.overlap(docs(s, dir), snapshot(s, dir), "text")
  private val q197Sql =
    """WITH bsrc AS (
      |  SELECT text FROM documents WHERE doc_id < 300
      |  UNION ALL SELECT text || ' v2' FROM documents WHERE doc_id >= 400
      |  UNION ALL SELECT text FROM documents WHERE doc_id < 50),
      |fa AS (SELECT DISTINCT
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents WHERE text IS NOT NULL),
      |fb AS (SELECT DISTINCT
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM bsrc WHERE text IS NOT NULL),
      |c AS (SELECT (SELECT count(*) FROM fa) AS n_a,
      |             (SELECT count(*) FROM fb) AS n_b,
      |             (SELECT count(*) FROM fa JOIN fb USING (fp)) AS n_both)
      |SELECT n_a, n_b, n_both,
      |  CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE) AS jaccard,
      |  CAST(n_both AS DOUBLE) / CAST(n_a AS DOUBLE) AS contain_a_in_b,
      |  CAST(n_both AS DOUBLE) / CAST(n_b AS DOUBLE) AS contain_b_in_a
      |FROM c""".stripMargin

  // -- q198: UniMax-budgeted per-language quality selection — the
  // multilingual training-set assembly composition: unimaxPlanBy
  // (token-weighted, avg 0.5 / max 1.0 epochs — a SELECTION regime)
  // water-fills each language's token allocation, then
  // selectByTokenBudgetByGroup fills each allocation with that
  // language's best documents by TTR. Per-group running totals via the
  // grouped two-pass prefix scan — no unpartitioned window anywhere in
  // the selection. Oracle: the q153 unimax CTE chain (proven IEEE
  // parity) + a per-lang cumulative window + join. --
  private val q198: Q = (s, dir) => {
    val tk = Text.tokens(col("text"))
    val scored = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tk).cast("long").as("n_tokens"),
        (size(array_distinct(tk)).cast("double") / size(tk)).as("score"))
      .filter(col("n_tokens") > 0)
    val budgets = graft.operators.Mix
      .unimaxPlanBy(scored, "lang", col("n_tokens"), 0.5, 1.0)
      .select(col("lang"), floor(col("alloc")).cast("long").as("budget"))
    graft.operators.Mix.selectByTokenBudgetByGroup(
      scored, "lang", "score", "n_tokens", "doc_id", budgets)
  }
  private val q198Sql =
    s"""WITH b AS (SELECT doc_id, lang,
       |    CAST(len($dTok) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct($dTok)) AS DOUBLE) / len($dTok) AS score
       |  FROM documents WHERE len($dTok) > 0),
       |langs AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n_docs
       |  FROM b GROUP BY 1),
       |caps AS (SELECT lang, n_docs,
       |    CAST(n_docs AS DOUBLE) * CAST(1.0 AS DOUBLE) AS cap FROM langs),
       |ord AS (
       |  SELECT lang, n_docs, cap,
       |    CAST(sum(n_docs) OVER () AS DOUBLE) * CAST(0.5 AS DOUBLE) AS budget,
       |    row_number() OVER (ORDER BY cap, lang) AS r,
       |    sum(cap) OVER (ORDER BY cap, lang
       |                   ROWS UNBOUNDED PRECEDING) AS cum,
       |    count(*) OVER () AS nl,
       |    lag(cap, 1) OVER (ORDER BY cap, lang) AS prev_cap
       |  FROM caps),
       |lvl AS (
       |  SELECT min(c) AS level FROM (
       |    SELECT (budget - (cum - cap)) / (nl - r + 1) AS c, cap, prev_cap
       |    FROM ord)
       |  WHERE c <= cap AND (prev_cap IS NULL OR c >= prev_cap)),
       |alloc AS (
       |  SELECT lang, CAST(floor(
       |      CASE WHEN level IS NULL THEN cap ELSE least(cap, level) END)
       |    AS BIGINT) AS budget
       |  FROM ord CROSS JOIN lvl),
       |c AS (SELECT b.*, CAST(sum(n_tokens)
       |    OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
       |    AS BIGINT) AS cum_tokens FROM b)
       |SELECT c.lang, c.doc_id, c.n_tokens, c.score, c.cum_tokens
       |FROM c JOIN alloc USING (lang) WHERE cum_tokens <= budget""".stripMargin

  // -- q199: near-duplicate cross-corpus overlap (CorpusReport
  // .nearOverlap) — q197's companion: how many docs of each side have a
  // banded-MinHash candidate on the other side. On the same simulated
  // snapshot the edited re-crawls (docs >= 400, text || ' v2') keep
  // most of their shingles and still collide on most bands, so the
  // near counts sit strictly ABOVE q197's exact 300 — the gap IS the
  // edited-re-crawl mass a fingerprint merge would re-ingest.
  // Membership via semi joins (no pair materialization, no star
  // guard). Oracle: the q21 sig CTE parameterized per side + DISTINCT
  // (band, sig) joins + scalar-subquery counts. --
  private val q199: Q = (s, dir) =>
    graft.operators.CorpusReport.nearOverlap(
      docs(s, dir), snapshot(s, dir), "text", "doc_id", "doc_id")
  private def dSigsFrom(src: String): String =
    s"""SELECT doc_id, band,
       |  list_aggregate(list_transform(dg, d -> substring(d, 1 + 8 * (band - 1), 8)), 'min') AS sig
       |FROM (SELECT doc_id, list_transform(${dShingles(dTok, 5)}, x -> md5(x)) AS dg FROM $src),
       |     (SELECT unnest([1, 2, 3, 4]) AS band)
       |WHERE list_aggregate(list_transform(dg, d -> substring(d, 1 + 8 * (band - 1), 8)), 'min') IS NOT NULL""".stripMargin
  private val q199Sql =
    s"""WITH bsrc AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 300
       |  UNION ALL SELECT doc_id, text || ' v2' FROM documents WHERE doc_id >= 400
       |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id < 50),
       |sa AS (${dSigsFrom("documents")}),
       |sb AS (${dSigsFrom("bsrc")}),
       |c AS (SELECT
       |  (SELECT count(DISTINCT doc_id) FROM sa) AS n_a,
       |  (SELECT count(DISTINCT doc_id) FROM sb) AS n_b,
       |  (SELECT count(DISTINCT sa.doc_id) FROM sa
       |     JOIN (SELECT DISTINCT band, sig FROM sb) x USING (band, sig))
       |    AS n_a_near,
       |  (SELECT count(DISTINCT sb.doc_id) FROM sb
       |     JOIN (SELECT DISTINCT band, sig FROM sa) y USING (band, sig))
       |    AS n_b_near)
       |SELECT n_a, n_b, n_a_near, n_b_near,
       |  CAST(n_a_near AS DOUBLE) / CAST(n_a AS DOUBLE) AS frac_a_near,
       |  CAST(n_b_near AS DOUBLE) / CAST(n_b AS DOUBLE) AS frac_b_near
       |FROM c""".stripMargin

  // -- q201: distinct-count rollup via stored HLL sketches
  // (DistinctRollup) — sketches as DATA: one per-lang sketch pass over
  // text fingerprints, then the global answer comes from MERGING the
  // six stored sketches (register maxes, order-independent), never
  // re-touching rows. Verified with the q37/q84 order-dependent-state
  // pattern: exact distinct counts + a within-tolerance boolean (HLL
  // ~1.6% sigma at lgK 12; 5% gate) that must be literal true — the
  // oracle emits true on the same exact-count rows, so hash equality
  // proves the estimates land inside the bound. --
  private val q201: Q = (s, dir) => {
    val roll = graft.operators.DistinctRollup
    val d = docs(s, dir)
      .select(col("lang"), Text.fingerprint(col("text")).as("fp"))
    val sk = roll.sketchBy(d, Seq("lang"), "fp")
    val ests = sk.select(col("lang"), roll.estimate(col("hll")).as("est"))
      .unionByName(roll.rollup(sk, Nil)
        .select(lit("ALL").as("lang"), roll.estimate(col("hll")).as("est")))
    val exact = d.groupBy(col("lang"))
      .agg(countDistinct(col("fp")).as("n_exact"))
      .unionByName(d.agg(countDistinct(col("fp")).as("n_exact"))
        .select(lit("ALL").as("lang"), col("n_exact")))
    ests.join(exact, Seq("lang"))
      .select(col("lang"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          lit(0.05) * col("n_exact")).as("est_ok"))
  }
  private val dFp =
    "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
  private val q201Sql =
    s"""SELECT lang, count(DISTINCT $dFp) AS n_exact, true AS est_ok
       |FROM documents GROUP BY lang
       |UNION ALL
       |SELECT 'ALL', count(DISTINCT $dFp), true FROM documents""".stripMargin

  /** The robots.txt body both robots queries parse — one Scala constant
    * spliced into BOTH engines (the Spark frame and the oracle's SQL
    * literal), so any divergence is the PARSERS', never the fixture's.
    * Exercises: comments, a non-* group whose `Disallow: /` must not
    * leak, a stacked `User-agent: * / legacybot` run WITH A BLANK LINE
    * inside the stack (RFC 9309's group ABNF allows empty lines between
    * startgrouplines — under the pre-round-17 blank-ends-stack bug the
    * `*` group would lose all its rules and the gate would fail open),
    * an `Allow:` that OUTRANKS a shorter Disallow under longest-match,
    * a `*`+`$` wildcard pattern (`/p/2*9$`: ids starting 2 and ending
    * 9), an empty `Disallow:` (allow-all, contributes nothing), a
    * `Sitemap:` line that must not end the group, and a trailing non-*
    * group. */
  private val robotsBody =
    "# graft crawl policy\n" +
      "User-agent: gptbot\n" +
      "Disallow: /\n" +
      "\n" +
      "User-agent: *\n" +
      "\n" +
      "User-agent: legacybot\n" +
      "Sitemap: https://example.org/sitemap.xml\n" +
      "Disallow: /p/1\n" +
      "Allow: /p/12\n" +
      "Disallow: /p/3\n" +
      "Disallow: /p/2*9$\n" +
      "Disallow:\n" +
      "\n" +
      "User-agent: otherbot\n" +
      "Disallow: /p\n"

  /** One robots.txt per synthesized (source, lang) host. */
  private def robotsFrame(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(concat(lower(col("source")), lit("."), col("lang"),
        lit(".example.org")).as("host"))
      .distinct()
      .withColumn("body", lit(robotsBody))

  /** The agent-matching fixture (q226/q227/q229): a `graftbot`-specific
    * policy split across TWO groups (RFC 9309 §2.2.1 merges matching
    * groups), one in a different CASE (matching is case-insensitive),
    * with a `*` group that must be OVERRIDDEN for graftbot — plus an
    * indented lowercase `sitemap:` line for the host-wide extraction
    * and per-group `Crawl-delay` values (2.5 and 7 in the graftbot
    * groups — the conservative MAX must win — beside a `*` 10 that
    * must not leak; one delay sits AFTER its group's rules, pinning
    * group-wide attribution). */
  private val robotsBodyAgents =
    "# graftbot policy\n" +
      "User-agent: graftbot\n" +
      "Crawl-delay: 2.5\n" +
      "Disallow: /p/1\n" +
      "Allow: /p/12\n" +
      "\n" +
      "User-agent: *\n" +
      "Crawl-delay: 10\n" +
      "Disallow: /\n" +
      "\n" +
      "User-Agent: GRAFTBOT\n" +
      "Disallow: /p/3\n" +
      "Crawl-delay: 7\n" +
      "  sitemap: https://example.org/de-sitemap.xml\n"

  /** Hosts with a MIXED policy landscape: `.de.` hosts run the
    * agent-specific body, everything else the plain q219 body — so one
    * query exercises agent-group override AND the *-fallback at once. */
  private def robotsAgentFrame(s: SparkSession, dir: String): DataFrame =
    robotsFrame(s, dir)
      .withColumn("body",
        when(col("host").like("%.de.example.org"), lit(robotsBodyAgents))
          .otherwise(lit(robotsBody)))

  // -- q219: robots.txt parsing (UrlOps.parseRobots) — the crawl-policy
  // rule extraction: RFC 9309 group semantics (stacked User-agent runs,
  // ONLY rule lines end a stack — blank lines between User-agent lines
  // keep stacking, per the group ABNF; * groups apply; Allow AND
  // Disallow both emitted with their kind) folded per body in one
  // expression chain. The oracle derives the SAME rules by a different
  // algorithm — relational, not a fold: boundary-writer windows (rule
  // and ua writers only, blanks invisible) find group starts, a
  // correlated max assigns each line its group, bool_or finds * groups
  // — so agreement pins the group semantics, not just the
  // arithmetic. --
  private val q219: Q = (s, dir) =>
    graft.operators.UrlOps.parseRobots(robotsFrame(s, dir), "host", "body")
  private val q219Sql =
    s"""WITH hosts AS (
       |  SELECT DISTINCT lower(source) || '.' || lang || '.example.org'
       |    AS host FROM documents),
       |raw AS (SELECT host, string_split_regex(
       |    regexp_replace('$robotsBody',
       |                   '#[^\\n]*', '', 'g'), '\\r?\\n') AS ls
       |  FROM hosts),
       |lines AS (SELECT host, u['i'] AS i, trim(u['l']) AS l FROM raw,
       |  unnest(list_transform(range(1, len(ls) + 1),
       |    i -> {'i': i, 'l': ls[CAST(i AS INT)]})) AS t(u)),
       |cls AS (SELECT host, i, l,
       |    CASE WHEN lower(l) LIKE 'user-agent:%' THEN 'ua'
       |         WHEN lower(l) LIKE 'disallow:%' THEN 'dis'
       |         WHEN lower(l) LIKE 'allow:%' THEN 'allow'
       |         WHEN l = '' THEN 'blank' ELSE 'other' END AS typ,
       |    trim(regexp_replace(l, '^[A-Za-z-]+\\s*:', '')) AS v
       |  FROM lines),
       |bw AS (SELECT *, max(CASE WHEN typ IN ('ua', 'dis', 'allow')
       |      THEN i END) OVER (PARTITION BY host ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pbw
       |  FROM cls),
       |bw2 AS (SELECT a.*, b.typ AS pbw_typ FROM bw a
       |  LEFT JOIN cls b ON b.host = a.host AND b.i = a.pbw),
       |gs AS (SELECT host, i FROM bw2
       |  WHERE typ = 'ua' AND (pbw_typ IS NULL OR pbw_typ <> 'ua')),
       |cur AS (SELECT c.host, c.i, c.typ, c.v,
       |    (SELECT max(g.i) FROM gs g
       |     WHERE g.host = c.host AND g.i <= c.i) AS g
       |  FROM cls c),
       |stars AS (SELECT host, g, bool_or(v = '*') AS star
       |  FROM cur WHERE typ = 'ua' GROUP BY host, g)
       |SELECT DISTINCT c.host, c.v AS prefix, c.typ = 'allow' AS allow
       |FROM cur c JOIN stars s ON s.host = c.host AND s.g = c.g
       |WHERE c.typ IN ('dis', 'allow') AND c.v <> '' AND s.star""".stripMargin

  // -- q220: the robots gate (UrlOps.applyRobots) — retroactive
  // crawl-policy compliance with RFC 9309 LONGEST-MATCH precedence and
  // the §2.2.3 wildcards: the fixture's /p/12 Allow (len 5) outranks
  // the /p/1 Disallow (len 4), so ids printing as 12… survive while
  // other 1… and all 3… block, and the /p/2*9$ pattern blocks ids
  // starting 2 AND ending 9. The oracle never parses: it applies the
  // KNOWN literal rules directly to the synthesized paths, so the
  // parse → join → translate → longest-match chain must land on the
  // independently-computed survivor set. --
  private val q220: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"),
      concat(lit("https://"), lower(col("source")), lit("."), col("lang"),
        lit(".example.org/p/"), col("doc_id").cast("string")).as("url"))
    val rules = graft.operators.UrlOps.parseRobots(
      robotsFrame(s, dir), "host", "body")
    graft.operators.UrlOps.applyRobots(d, "url", "doc_id", rules)
  }
  private val q220Sql =
    """SELECT doc_id,
      |  'https://' || lower(source) || '.' || lang || '.example.org/p/' ||
      |    CAST(doc_id AS VARCHAR) AS url
      |FROM documents
      |WHERE NOT ((CAST(doc_id AS VARCHAR) LIKE '1%'
      |            AND CAST(doc_id AS VARCHAR) NOT LIKE '12%')
      |           OR CAST(doc_id AS VARCHAR) LIKE '3%'
      |           OR (CAST(doc_id AS VARCHAR) LIKE '2%'
      |               AND CAST(doc_id AS VARCHAR) LIKE '%9'))""".stripMargin

  // -- q226: per-crawler robots parsing (RFC 9309 §2.2.1 agent
  // matching) — the "what may MY bot crawl" question, against a mixed
  // landscape: .de hosts carry a graftbot-specific policy split across
  // two groups (one in a different case) beside a Disallow-/ * group,
  // every other host only the plain q219 body. parseRobots(agent =
  // "GraftBot") must COMBINE both matching groups case-insensitively,
  // override * on those hosts, and fall back to the * groups elsewhere.
  // The oracle derives the same selection relationally: per-group
  // bool_or finds *- and agent-groups, a per-host bool_or decides the
  // fallback, and the (saw AND agm) OR (NOT saw AND star) cut replays
  // the RFC's precedence — a different algorithm agreeing on the same
  // rule table. --
  private val q226: Q = (s, dir) =>
    graft.operators.UrlOps.parseRobots(
      robotsAgentFrame(s, dir), "host", "body", agent = Some("GraftBot"))
  private val q226Sql =
    s"""WITH hosts AS (
       |  SELECT DISTINCT lower(source) || '.' || lang || '.example.org'
       |    AS host FROM documents),
       |raw AS (SELECT host, string_split_regex(
       |    regexp_replace(
       |      CASE WHEN host LIKE '%.de.example.org'
       |           THEN '$robotsBodyAgents' ELSE '$robotsBody' END,
       |      '#[^\\n]*', '', 'g'), '\\r?\\n') AS ls
       |  FROM hosts),
       |lines AS (SELECT host, u['i'] AS i, trim(u['l']) AS l FROM raw,
       |  unnest(list_transform(range(1, len(ls) + 1),
       |    i -> {'i': i, 'l': ls[CAST(i AS INT)]})) AS t(u)),
       |cls AS (SELECT host, i, l,
       |    CASE WHEN lower(l) LIKE 'user-agent:%' THEN 'ua'
       |         WHEN lower(l) LIKE 'disallow:%' THEN 'dis'
       |         WHEN lower(l) LIKE 'allow:%' THEN 'allow'
       |         WHEN l = '' THEN 'blank' ELSE 'other' END AS typ,
       |    trim(regexp_replace(l, '^[A-Za-z-]+\\s*:', '')) AS v
       |  FROM lines),
       |bw AS (SELECT *, max(CASE WHEN typ IN ('ua', 'dis', 'allow')
       |      THEN i END) OVER (PARTITION BY host ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pbw
       |  FROM cls),
       |bw2 AS (SELECT a.*, b.typ AS pbw_typ FROM bw a
       |  LEFT JOIN cls b ON b.host = a.host AND b.i = a.pbw),
       |gs AS (SELECT host, i FROM bw2
       |  WHERE typ = 'ua' AND (pbw_typ IS NULL OR pbw_typ <> 'ua')),
       |cur AS (SELECT c.host, c.i, c.typ, c.v,
       |    (SELECT max(g.i) FROM gs g
       |     WHERE g.host = c.host AND g.i <= c.i) AS g
       |  FROM cls c),
       |grp AS (SELECT host, g, bool_or(v = '*') AS star,
       |    bool_or(lower(v) = 'graftbot') AS agm
       |  FROM cur WHERE typ = 'ua' GROUP BY host, g),
       |saw AS (SELECT host, bool_or(agm) AS saw FROM grp GROUP BY host)
       |SELECT DISTINCT c.host, c.v AS prefix, c.typ = 'allow' AS allow
       |FROM cur c JOIN grp s ON s.host = c.host AND s.g = c.g
       |JOIN saw w ON w.host = c.host
       |WHERE c.typ IN ('dis', 'allow') AND c.v <> ''
       |  AND ((w.saw AND s.agm) OR (NOT w.saw AND s.star))""".stripMargin

  // -- q227: sitemap extraction (UrlOps.parseSitemaps) — the
  // crawl-frontier seed table: Sitemap: lines are HOST-WIDE (outside
  // the group model), matched case-insensitively at any indentation,
  // after comment stripping, deduplicated. Only the .de hosts' agent
  // body carries an (indented, lowercase) sitemap line beside the
  // plain body's Sitemap:, so the query pins both spellings and the
  // per-host split. Oracle: the same RE2-class regex in DuckDB over
  // the same spliced bodies — engine-independent extraction. --
  private val q227: Q = (s, dir) =>
    graft.operators.UrlOps.parseSitemaps(
      robotsAgentFrame(s, dir), "host", "body")
  private val q227Sql =
    s"""WITH hosts AS (
       |  SELECT DISTINCT lower(source) || '.' || lang || '.example.org'
       |    AS host FROM documents),
       |raw AS (SELECT host, regexp_replace(
       |    CASE WHEN host LIKE '%.de.example.org'
       |         THEN '$robotsBodyAgents' ELSE '$robotsBody' END,
       |    '#[^\\n]*', '', 'g') AS body FROM hosts)
       |SELECT DISTINCT host, um AS sitemap
       |FROM raw, unnest(regexp_extract_all(body,
       |  '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)) AS t(um)""".stripMargin

  // -- q229: crawl-delay extraction (UrlOps.parseCrawlDelays) — the
  // politeness schedule, agent-selected like q226: .de hosts state 2.5
  // and 7 across the two graftbot groups (the conservative MAX must
  // win; one value sits AFTER its group's rules, so attribution is
  // group-wide, not stack-positional) beside a * 10 that must NOT
  // leak; plain-body hosts state none and must be ABSENT, not
  // defaulted. The oracle re-derives it relationally: typ='cd' rows
  // joined to their group's flags under the same effective-group cut
  // as q226, max per host. --
  private val q229: Q = (s, dir) =>
    graft.operators.UrlOps.parseCrawlDelays(
      robotsAgentFrame(s, dir), "host", "body", agent = Some("GraftBot"))
  private val q229Sql =
    s"""WITH hosts AS (
       |  SELECT DISTINCT lower(source) || '.' || lang || '.example.org'
       |    AS host FROM documents),
       |raw AS (SELECT host, string_split_regex(
       |    regexp_replace(
       |      CASE WHEN host LIKE '%.de.example.org'
       |           THEN '$robotsBodyAgents' ELSE '$robotsBody' END,
       |      '#[^\\n]*', '', 'g'), '\\r?\\n') AS ls
       |  FROM hosts),
       |lines AS (SELECT host, u['i'] AS i, trim(u['l']) AS l FROM raw,
       |  unnest(list_transform(range(1, len(ls) + 1),
       |    i -> {'i': i, 'l': ls[CAST(i AS INT)]})) AS t(u)),
       |cls AS (SELECT host, i, l,
       |    CASE WHEN lower(l) LIKE 'user-agent:%' THEN 'ua'
       |         WHEN lower(l) LIKE 'disallow:%' THEN 'dis'
       |         WHEN lower(l) LIKE 'allow:%' THEN 'allow'
       |         WHEN lower(l) LIKE 'crawl-delay:%' THEN 'cd'
       |         WHEN l = '' THEN 'blank' ELSE 'other' END AS typ,
       |    trim(regexp_replace(l, '^[A-Za-z-]+\\s*:', '')) AS v
       |  FROM lines),
       |bw AS (SELECT *, max(CASE WHEN typ IN ('ua', 'dis', 'allow')
       |      THEN i END) OVER (PARTITION BY host ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pbw
       |  FROM cls),
       |bw2 AS (SELECT a.*, b.typ AS pbw_typ FROM bw a
       |  LEFT JOIN cls b ON b.host = a.host AND b.i = a.pbw),
       |gs AS (SELECT host, i FROM bw2
       |  WHERE typ = 'ua' AND (pbw_typ IS NULL OR pbw_typ <> 'ua')),
       |cur AS (SELECT c.host, c.i, c.typ, c.v,
       |    (SELECT max(g.i) FROM gs g
       |     WHERE g.host = c.host AND g.i <= c.i) AS g
       |  FROM cls c),
       |grp AS (SELECT host, g, bool_or(v = '*') AS star,
       |    bool_or(lower(v) = 'graftbot') AS agm
       |  FROM cur WHERE typ = 'ua' GROUP BY host, g),
       |saw AS (SELECT host, bool_or(agm) AS saw FROM grp GROUP BY host)
       |SELECT c.host, max(TRY_CAST(c.v AS DOUBLE)) AS crawl_delay
       |FROM cur c JOIN grp s ON s.host = c.host AND s.g = c.g
       |JOIN saw w ON w.host = c.host
       |WHERE c.typ = 'cd' AND TRY_CAST(c.v AS DOUBLE) IS NOT NULL
       |  AND ((w.saw AND s.agm) OR (NOT w.saw AND s.star))
       |GROUP BY c.host""".stripMargin

  // -- q231: politeness-aware fetch scheduling (UrlOps.scheduleFetches)
  // — the dispatch plan a crawler runs: frontier URLs joined to the
  // agent-selected q229 delays (.de hosts budget 7 s, every other host
  // the 1 s default), the k-th URL of a host scheduled at (k-1)×delay
  // under deterministic per-host lexicographic order. One
  // host-partitioned window — partitions = hosts, never a global sort.
  // Oracle: the q220 discipline — it never parses; the KNOWN literal
  // delays (7.0 on .de hosts, nothing elsewhere) join the same window
  // arithmetic, so the parse → select → join → schedule chain must
  // land on the independently-stated plan. --
  private val q231: Q = (s, dir) => {
    val frontier = docs(s, dir).select(col("doc_id"),
      concat(lit("https://"), lower(col("source")), lit("."), col("lang"),
        lit(".example.org/p/"), col("doc_id").cast("string")).as("url"))
    val delays = graft.operators.UrlOps.parseCrawlDelays(
      robotsAgentFrame(s, dir), "host", "body", agent = Some("GraftBot"))
    graft.operators.UrlOps.scheduleFetches(frontier, "url", delays,
      defaultDelay = 1.0)
  }
  private val q231Sql =
    s"""WITH hosts AS (
       |  SELECT DISTINCT lower(source) || '.' || lang || '.example.org'
       |    AS host FROM documents),
       |delays AS (
       |  SELECT host, 7.0 AS crawl_delay FROM hosts
       |  WHERE host LIKE '%.de.example.org'),
       |frontier AS (
       |  SELECT doc_id,
       |    'https://' || lower(source) || '.' || lang || '.example.org/p/' ||
       |      CAST(doc_id AS VARCHAR) AS url,
       |    lower(source) || '.' || lang || '.example.org' AS host
       |  FROM documents)
       |SELECT f.host, f.doc_id, f.url,
       |  (CAST(row_number() OVER (PARTITION BY f.host ORDER BY f.url)
       |    AS DOUBLE) - 1.0) * coalesce(d.crawl_delay, 1.0) AS fetch_at
       |FROM frontier f LEFT JOIN delays d ON d.host = f.host""".stripMargin

  // -- q202: domain blocklist gate (UrlOps.dropBlockedDomains) — the
  // UT1-style crawl filter: hosts explode into dotted suffixes (bounded
  // by label count) which semi-join the blocklist, blocked ids
  // anti-join back — cost independent of blocklist size per row, no
  // LIKE-per-entry scan. URLs synthesized from (source, lang) so both
  // match modes bite: one exact host entry and one parent-suffix entry
  // that takes a whole language subtree. Oracle: an INDEPENDENT
  // algorithm — NOT EXISTS over host = d OR host LIKE '%.' || d —
  // agreeing with the explode+join makes the hash a strong check. --
  private val q202: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir).select($"doc_id",
      concat(lit("https://"), lower($"source"), lit("."), $"lang",
        lit(".example.org/p/"), $"doc_id".cast("string")).as("url"))
    val blocked = Seq("de.example.org", "src3.en.example.org", "unused.net")
      .toDF("domain")
    graft.operators.UrlOps.dropBlockedDomains(d, "url", "doc_id", blocked)
  }
  private val q202Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    'https://' || lower(source) || '.' || lang || '.example.org/p/' ||
      |      CAST(doc_id AS VARCHAR) AS url,
      |    lower(source) || '.' || lang || '.example.org' AS host
      |  FROM documents)
      |SELECT doc_id, url FROM d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM (VALUES ('de.example.org'), ('src3.en.example.org'),
      |                        ('unused.net')) b(dom)
      |  WHERE d.host = b.dom OR d.host LIKE '%.' || b.dom)""".stripMargin

  // -- q203: domain-level quality gate (UrlOps.keepDomainsByMean) —
  // FineWeb-style origin curation: domains averaging under 55 tokens
  // per doc, or with fewer than 3 docs, drop WHOLESALE — including
  // their above-average outliers, which is the point (per-doc gates
  // judge docs; this judges origins). Token counts are exact longs, so
  // the domain mean is one IEEE division of exact sums — cross-engine
  // reproducible. Oracle: GROUP BY host HAVING, semi-join replayed as
  // IN. --
  private val q203: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir).select($"doc_id",
      concat(lit("https://"), lower($"source"), lit("."), $"lang",
        lit(".example.org/p/"), $"doc_id".cast("string")).as("url"),
      size(Text.tokens($"text")).cast("long").as("n_tokens"))
    graft.operators.UrlOps.keepDomainsByMean(d, "url", "n_tokens",
      minMean = 55.0, minDocs = 3L)
  }
  private val q203Sql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://' || lower(source) || '.' || lang || '.example.org/p/' ||
       |      CAST(doc_id AS VARCHAR) AS url,
       |    lower(source) || '.' || lang || '.example.org' AS host,
       |    CAST(len($dTok) AS BIGINT) AS n_tokens
       |  FROM documents),
       |h AS (SELECT host FROM d GROUP BY host
       |      HAVING count(*) >= 3
       |         AND CAST(sum(n_tokens) AS DOUBLE) / count(*) >= 55.0)
       |SELECT doc_id, url, n_tokens FROM d
       |WHERE host IN (SELECT host FROM h)""".stripMargin

  // -- q234: per-language CCNet quality buckets (Quality.scoreBucketsBy)
  // — Wenzek et al. 2020 §4.3 cut their LM scores into terciles PER
  // LANGUAGE (head/middle/tail), because score scales aren't comparable
  // across languages; the global q-bucket form (scoreBuckets) would let
  // one high-scoring language monopolize "head". Thresholds are exact
  // per-group quantile_cont via the rank SCAN (no per-language
  // single-task window — languages are few and corpus-sized, the funnel
  // case), broadcast back, assignment a narrow fold. Score here is
  // n_chars (continuous enough to make the interpolated thresholds
  // land between values; the operator is score-agnostic). Oracle:
  // DuckDB quantile_cont per lang + the same ties-below comparison. --
  private val q234: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
      .select($"doc_id", $"lang", $"n_chars".cast("double").as("score"))
    graft.operators.Quality.scoreBucketsBy(d, "score", Seq("lang"), 3)
      .select($"doc_id", $"lang", $"bucket")
  }
  private val q234Sql =
    """WITH t AS (
      |  SELECT lang,
      |    quantile_cont(CAST(n_chars AS DOUBLE), 1.0/3) AS t1,
      |    quantile_cont(CAST(n_chars AS DOUBLE), 2.0/3) AS t2
      |  FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang,
      |  CAST(CASE WHEN CAST(d.n_chars AS DOUBLE) > t.t2 THEN 3
      |            WHEN CAST(d.n_chars AS DOUBLE) > t.t1 THEN 2
      |            ELSE 1 END AS BIGINT) AS bucket
      |FROM documents d JOIN t ON d.lang = t.lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "q234_ccnet_buckets" -> q234,
    "q219_robots_rules" -> q219,
    "q220_robots_gate" -> q220,
    "q226_robots_agent" -> q226,
    "q227_sitemaps" -> q227,
    "q228_weighted_sample_grouped" -> q228,
    "q229_crawl_delays" -> q229,
    "q230_tokenizer_roundtrip" -> q230,
    "q231_fetch_schedule" -> q231,
    "q222_weighted_sample" -> q222,
    "q224_weighted_sample_strid" -> q224,
    "q216_pipeline_chunks" -> q216,
    "q215_keep_best_dedup" -> q215,
    "q214_domain_card" -> q214,
    "q213_sentence_chunks" -> q213,
    "q209_card_drift" -> q209,
    "q208_quality_checks" -> q208,
    "q207_card_store" -> q207,
    "q205_blocked_frontier" -> q205,
    "q203_domain_quality" -> q203,
    "q202_domain_blocklist" -> q202,
    "q201_distinct_rollup" -> q201,
    "q199_near_overlap" -> q199,
    "q198_unimax_select" -> q198,
    "q197_corpus_overlap" -> q197,
    "q196_token_budget" -> q196,
    "q195_card_diff" -> q195,
    "q194_corpus_report" -> q194,
    "q190_graded_rank_eval" -> q190,
    "q186_rank_eval" -> q186,
    "q184_langid_trained" -> q184,
    "q181_contamination_report" -> q181,
    "q180_tuned_neardup" -> q180,
    "q179_crawl_pipeline" -> q179,
    "q178_link_frontier" -> q178,
    "q177_html_extract" -> q177,
    "q176_dup_report" -> q176,
    "q174_curriculum_shards" -> q174,
    "q166_ngram_novelty" -> q166,
    "q165_oov_rate" -> q165,
    "q157_gopher_report" -> q157,
    "q158_boilerplate_lines" -> q158,
    "q156_interp_lm" -> q156,
    "q155_winnow_fp" -> q155,
    "q152_split_leakage" -> q152,
    "q153_unimax_tokens" -> q153,
    "q154_cluster_split" -> q154,
    "q148_unimax_plan" -> q148,
    "q143_line_filter" -> q143,
    "q144_gopher_rules" -> q144,
    "q146_containment" -> q146,
    "q147_soft_dedup" -> q147,
    "q136_segment_dedup" -> q136,
    "q135_perplexity_buckets" -> q135,
    "q20_exact_dedup" -> q20,
    "q21_minhash_sigs" -> q21,
    "q22_neardup_pairs" -> q22,
    "q23_simhash" -> q23,
    "q24_token_stats" -> q24,
    "q25_quality_signals" -> q25,
    "q26_langid" -> q26,
    "q27_ngram_jaccard" -> q27,
    "q28_bpe_token_freq" -> q28,
    "q29_rolling_fingerprint" -> q29,
    "q52_train_split" -> q52,
    "q62_neardup_clusters" -> q62,
    "q64_prep_pipeline" -> q64,
    "q65_seq_packing" -> q65,
    "q66_corpus_mix" -> q66,
    "q69_decontaminate" -> q69,
    "q70_repetition_signals" -> q70,
    "q72_pii_scrub" -> q72,
    "q75_token_chunking" -> q75,
    "q76_char_diversity" -> q76,
    "q77_bpe_pair_counts" -> q77,
    "q78_simhash_neardup" -> q78,
    "q79_text_normalize" -> q79,
    "q80_url_domain_cap" -> q80,
    "q81_inverted_index" -> q81,
    "q82_bm25_weights" -> q82,
    "q83_pagerank" -> q83,
    "q84_heavy_hitters" -> q84,
    "q85_dup_spans" -> q85,
    "q86_feature_hash" -> q86,
    "q87_bigram_lm" -> q87,
    "q88_neardup_verified" -> q88,
    "q90_temperature_mix" -> q90,
    "q91_remove_dup_spans" -> q91,
    "q94_group_sample" -> q94,
    "q95_quality_classifier" -> q95,
    "q96_countmin" -> q96,
    "q97_permute" -> q97,
    "q100_full_pipeline" -> q100,
    "q120_train_classifier" -> q120,
    "q123_ttl_gate" -> q123,
    "q124_unigram_lm" -> q124,
    "q128_unigram_score" -> q128,
    "q129_weighted_minhash" -> q129,
    "q130_quality_prune" -> q130,
  )

  val oracle: Map[String, String] = Map(
    "q234_ccnet_buckets" -> q234Sql,
    "q215_keep_best_dedup" -> q215Sql,
    "q214_domain_card" -> q214Sql,
    "q219_robots_rules" -> q219Sql,
    "q220_robots_gate" -> q220Sql,
    "q226_robots_agent" -> q226Sql,
    "q227_sitemaps" -> q227Sql,
    "q228_weighted_sample_grouped" -> q228Sql,
    "q229_crawl_delays" -> q229Sql,
    "q230_tokenizer_roundtrip" -> q230Sql,
    "q231_fetch_schedule" -> q231Sql,
    "q222_weighted_sample" -> q222Sql,
    "q224_weighted_sample_strid" -> q224Sql,
    "q216_pipeline_chunks" -> q216Sql,
    "q213_sentence_chunks" -> q213Sql,
    "q209_card_drift" -> q209Sql,
    "q208_quality_checks" -> q208Sql,
    "q205_blocked_frontier" -> q205Sql,
    "q203_domain_quality" -> q203Sql,
    "q202_domain_blocklist" -> q202Sql,
    "q201_distinct_rollup" -> q201Sql,
    "q199_near_overlap" -> q199Sql,
    "q198_unimax_select" -> q198Sql,
    "q197_corpus_overlap" -> q197Sql,
    "q196_token_budget" -> q196Sql,
    "q207_card_store" -> q207Sql,
    "q195_card_diff" -> q195Sql,
    "q194_corpus_report" -> q194Sql,
    "q190_graded_rank_eval" -> q190Sql,
    "q186_rank_eval" -> q186Sql,
    "q184_langid_trained" -> q184Sql,
    "q181_contamination_report" -> q181Sql,
    "q180_tuned_neardup" -> q180Sql,
    "q179_crawl_pipeline" -> q179Sql,
    "q178_link_frontier" -> q178Sql,
    "q177_html_extract" -> q177Sql,
    "q176_dup_report" -> q176Sql,
    "q174_curriculum_shards" -> q174Sql,
    "q166_ngram_novelty" -> q166Sql,
    "q165_oov_rate" -> q165Sql,
    "q157_gopher_report" -> q157Sql,
    "q158_boilerplate_lines" -> q158Sql,
    "q156_interp_lm" -> q156Sql,
    "q155_winnow_fp" -> q155Sql,
    "q152_split_leakage" -> q152Sql,
    "q153_unimax_tokens" -> q153Sql,
    "q154_cluster_split" -> q154Sql,
    "q148_unimax_plan" -> q148Sql,
    "q143_line_filter" -> q143Sql,
    "q144_gopher_rules" -> q144Sql,
    "q146_containment" -> q146Sql,
    "q147_soft_dedup" -> q147Sql,
    "q136_segment_dedup" -> q136Sql,
    "q135_perplexity_buckets" -> q135Sql,
    "q20_exact_dedup" -> q20Sql,
    "q21_minhash_sigs" -> q21Sql,
    "q22_neardup_pairs" -> q22Sql,
    "q23_simhash" -> q23Sql,
    "q24_token_stats" -> q24Sql,
    "q25_quality_signals" -> q25Sql,
    "q26_langid" -> q26Sql,
    "q27_ngram_jaccard" -> q27Sql,
    "q28_bpe_token_freq" -> q28Sql,
    "q29_rolling_fingerprint" -> q29Sql,
    "q52_train_split" -> q52Sql,
    "q62_neardup_clusters" -> q62Sql,
    "q64_prep_pipeline" -> q64Sql,
    "q65_seq_packing" -> q65Sql,
    "q66_corpus_mix" -> q66Sql,
    "q69_decontaminate" -> q69Sql,
    "q70_repetition_signals" -> q70Sql,
    "q72_pii_scrub" -> q72Sql,
    "q75_token_chunking" -> q75Sql,
    "q76_char_diversity" -> q76Sql,
    "q77_bpe_pair_counts" -> q77Sql,
    "q78_simhash_neardup" -> q78Sql,
    "q79_text_normalize" -> q79Sql,
    "q80_url_domain_cap" -> q80Sql,
    "q81_inverted_index" -> q81Sql,
    "q82_bm25_weights" -> q82Sql,
    "q83_pagerank" -> q83Sql,
    "q84_heavy_hitters" -> q84Sql,
    "q85_dup_spans" -> q85Sql,
    "q86_feature_hash" -> q86Sql,
    "q87_bigram_lm" -> q87Sql,
    "q88_neardup_verified" -> q88Sql,
    "q90_temperature_mix" -> q90Sql,
    "q91_remove_dup_spans" -> q91Sql,
    "q94_group_sample" -> q94Sql,
    "q95_quality_classifier" -> q95Sql,
    "q96_countmin" -> q96Sql,
    "q97_permute" -> q97Sql,
    "q100_full_pipeline" -> q100Sql,
    "q120_train_classifier" -> q120Sql,
    "q123_ttl_gate" -> q123Sql,
    "q124_unigram_lm" -> q124Sql,
    "q128_unigram_score" -> q128Sql,
    "q129_weighted_minhash" -> q129Sql,
    "q130_quality_prune" -> q130Sql,
  )
}
