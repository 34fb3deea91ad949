package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative pipeline runner — the config-driven face of the curation
  * compositions (q100/q108/q179): a plain-text stage list maps onto the
  * PROVEN operator chain, so an ops user re-runs the flagship crawl
  * pipeline (extract → line gates → dedup → split → shards) by editing
  * a config, not Scala. The runner adds NO semantics of its own — every
  * stage is one call into an oracle-pinned operator with the same
  * defaults, so a config run is exactly the corresponding hand-written
  * plan (PipelineSpec pins the q179-shaped chain stage for stage).
  *
  * Config format: one stage per line, `name key=value ...`; `#` starts
  * a comment, blank lines are skipped. Unknown stage names and unknown
  * keys FAIL FAST at parse/build time (a typo'd gate silently not
  * running is how contaminated corpora ship), before any job runs.
  *
  * Deliberately NOT a query language — the SURVEY §7.0 SQL-surface
  * stance at pipeline granularity: composition is linear (each stage
  * feeds the next), parameters are scalars, and anything needing real
  * logic (custom gates, trained models, store lifecycles) is Scala.
  */
object Pipeline {

  case class Stage(name: String, params: Map[String, String], line: Int)

  /** Stage registry: name → allowed parameter keys. Every stage is one
    * call into an oracle-pinned operator:
    *  - `scrub` (q72), `repetitionGate` (q70), `dropBoilerplate`
    *    (q158), `dedupSpans` (q64/q100), `decontam` (q69),
    *    `qualityGate` (q95), `tokenize` (q103), `shards` (q113) — the
    *    published curation recipe end to end, so the q100 flagship is a
    *    config, not Scala (PipelineSpec pins it stage for stage).
    *  - `dedupSpans` replaces the payload with the rewrite output
    *    (idCol, n_tokens, n_kept, rewritten textCol) — the q100 shape.
    *  - `decontam` reads the benchmark from a fixture `table` (its text
    *    column via `textCol`, defaulting to the pipeline's).
    *  - `qualityGate` trains in-run on the frame's own labels (the
    *    langId precedent): `labelCol` holds 0/1, or `labelTrue` turns a
    *    categorical column into labelCol == labelTrue.
    *  - `tokenize` trains `merges` BPE merges in-run and appends
    *    `token_ids`; `decontamIds` then gates in MODEL-TOKEN space
    *    (q118), encoding its benchmark table with the run's own trained
    *    merges — it therefore requires a preceding `tokenize`; `shards`
    *    writes size-budgeted shard files under `path` and RETURNS THE
    *    MANIFEST (a sink, like `write` — put it last).
    *  - `sample` (content-addressed rate sampling), `weightedSample`
    *    (q222's Efraimidis–Spirakis draw: `n=` rows kept, weight =
    *    `scoreCol=` or the TTR proxy, winners semi-join back), and
    *    `balanceSources` (α=0.5 temperature mixing over `byCol`) cover
    *    the mixture side of the recipe; `tokenBudget` (q196) cuts the corpus to a global
    *    token budget in quality order and `unimaxSelect` (q198) does it
    *    per group under UniMax token allocations.
    *  - `report` (q194) is a pass-through sink publishing the corpus
    *    DATA CARD of the frame at that point in the chain.
    *  - `scoreBuckets` (q234): the CCNet quality cut — ADDS `bucket`
    *    in [1, n=] from exact quantile thresholds of `scoreCol=` (or
    *    the TTR proxy), `byCol=` per group (per-language, the CCNet
    *    contract); enrichment only, filter downstream.
    *  - `readSnapshot` (first stage) / `writeSnapshot` (sink): the
    *    versioned-table doors (sinks.Snapshots, q236-q238) — read pins
    *    one immutable version (`version=` time-travels), write COMMITS
    *    the surviving frame (`mode=append|overwrite`), so chained
    *    curation runs hand off through the log instead of raw
    *    directories: concurrent readers never see a half-written
    *    handoff, and every run's input remains reproducible by number.
    *    `readChanges path= since= [types=]` (first stage) consumes the
    *    CHANGE FEED instead of the table — the nightly incremental run
    *    curates only what landed since its recorded cursor (q241's
    *    operator; default types=insert).
    *  - `readWarc` (first stage, alternative to `read`): curate a
    *    crawl archive directly — the graft-warc DSv2 scan over `path=`,
    *    `types=` record types kept (default `response`, pushed into the
    *    reader so other payloads are skipped), body decoded UTF-8 as
    *    the text column, record_id as the id, `url` present so the
    *    URL-curation gates run with their defaults. `writeWarc` is the
    *    matching pass-through sink: the surviving frame re-serialized
    *    as response segments — an archive-to-archive curation pass from
    *    one config. Strict provenance: url/date columns required, no
    *    fabricated fetch dates. `fetchWarc` (q225) is the RANDOM-ACCESS
    *    read: the current frame is a curated cc-index — (record_file,
    *    record_offset) keys — and the stage replaces it with the
    *    fetched records in readWarc's shape, one seek + its own bytes
    *    per record instead of streaming whole segments.
    *  - `checks` (q208) is the data-quality GATE: `spec=` a
    *    comma-separated constraint list (complete:col:minFrac,
    *    unique:col:minFrac, between:col:lo:hi, mean:col:lo:hi) and/or
    *    `regex=col:minFrac:pattern` (ONE anchored-match constraint per
    *    stage — patterns carry ':' and ',' freely since the pattern is
    *    the tail; quote the value for whitespace or '#'). The run dies
    *    naming each failed constraint (Checks.assertAll).
    *  - `chunkSentences` (q213's operator) EXPLODES each document into
    *    sentence-boundary RAG chunks — like `shards` it multiplies
    *    rows: textCol becomes the chunk text, `chunk_idx` /
    *    `chunk_tokens` ride along, and idCol stays the DOCUMENT id
    *    (chunks share it), so run dedup/gates BEFORE this stage and
    *    sinks after.
    *  - `robotsGate` (q219/q220/q226): crawl-policy compliance —
    *    `table=` a fixture table of robots.txt bodies (`hostCol=`
    *    default `host`, `bodyCol=` default `body`), parsed to RFC 9309
    *    Allow/Disallow rules and applied to `urlCol=` (default `url`)
    *    with longest-match precedence; `agent=` selects that crawler's
    *    own groups (§2.2.1 case-insensitive product token, matching
    *    groups combine, `*` fallback), default = the `*` posture.
    *  - URL curation (q202/q203): `blockDomains` drops rows whose URL
    *    host or any parent domain is blocklisted (`domains=a.com,b.org`
    *    literals and/or `table=`+`domainCol=` a fixture-table list —
    *    the UT1 shape), `domainQuality` drops weak ORIGINS wholesale
    *    (domains under `minMean` mean `valueCol` — default: the token
    *    count — or under `minDocs` documents). Both read `urlCol=`
    *    (default `url`) and FAIL FAST if the column is absent; frames
    *    without one (the fixtures) first run `deriveUrl`, which
    *    synthesizes the deterministic per-document URL the q202 oracle
    *    uses (`https://{source}.{lang}.example.org/p/{id}`) — an
    *    exercise/test device, not a crawl semantics claim. */
  private val Allowed: Map[String, Set[String]] = Map(
    "read" -> Set("table", "idCol", "textCol"),
    "readSnapshot" -> Set("path", "version", "idCol", "textCol"),
    "readChanges" -> Set("path", "since", "types", "idCol", "textCol"),
    "writeSnapshot" -> Set("path", "mode"),
    "readWarc" -> Set("path", "types", "idCol", "textCol"),
    "fetchWarc" -> Set.empty[String],
    "clean" -> Set("form", "lowercase"),
    "htmlExtract" -> Set("minWords", "minDensity"),
    "lineFilter" -> Set("minWords", "minLines"),
    "scrub" -> Set(),
    "repetitionGate" -> Set("n", "maxDupFraction", "maxTopFraction"),
    "dropBoilerplate" -> Set("minDf"),
    "exactDedup" -> Set(),
    "nearDedup" -> Set("shingle", "bands", "maxBucket"),
    "embedDedup" -> Set("minCos", "dim", "outDim", "bits", "maxBucket",
      "centered"),
    "dedupSpans" -> Set("w", "minKept"),
    "decontam" -> Set("table", "textCol", "n", "threshold"),
    "minTokens" -> Set("n"),
    "langId" -> Set("langCol", "langs", "dim", "n", "iterations"),
    "qualityGate" -> Set("labelCol", "labelTrue", "dim", "iterations", "tau"),
    "deriveUrl" -> Set("outCol"),
    "robotsGate" -> Set("table", "hostCol", "bodyCol", "urlCol", "agent"),
    "blockDomains" -> Set("urlCol", "domains", "table", "domainCol"),
    "domainQuality" -> Set("urlCol", "valueCol", "minMean", "minDocs"),
    "sample" -> Set("rate", "salt"),
    "weightedSample" -> Set("n", "scoreCol", "salt", "byCol"),
    "scoreBuckets" -> Set("n", "scoreCol", "byCol"),
    "balanceSources" -> Set("byCol"),
    "tokenBudget" -> Set("budget", "scoreCol"),
    "unimaxSelect" -> Set("byCol", "avgEpochs", "maxEpochs", "scoreCol"),
    "chunkSentences" -> Set("maxTokens", "maxSentenceTokens"),
    "tokenize" -> Set("merges"),
    "detokenize" -> Set("outCol"),
    "decontamIds" -> Set("table", "textCol", "n", "threshold"),
    "split" -> Set("trainPct", "valPct"),
    "shards" -> Set("path", "budget", "chunkTokens", "overlap"),
    "report" -> Set("path", "langCol", "sourceCol", "urlCol", "domainTopK"),
    "checks" -> Set("spec", "regex"),
    "writeWarc" -> Set("path", "urlCol", "dateCol", "gzip", "warcinfo"),
    "write" -> Set("path", "table", "format", "compression"))

  /** Tokenizes one config line: whitespace-separated tokens; DOUBLE
    * QUOTES protect whitespace and '#' inside a value
    * (`regex="col:1.0:https?://.* more"`) and are stripped; a '#'
    * starting a token outside quotes comments out the rest of the line
    * (so `path=/data/run#1` stays data — the original rule, now
    * quote-aware). */
  private[graft] def tokenize(line: String, lineNo: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var inQuote = false
    var started = false
    def flush(): Unit =
      if (started) { out += cur.toString; cur.setLength(0); started = false }
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuote) {
        if (c == '"') inQuote = false else cur.append(c)
      } else if (c == '"') { inQuote = true; started = true }
      else if (c.isWhitespace) flush()
      else if (c == '#' && !started) i = line.length // comment to EOL
      else { cur.append(c); started = true }
      i += 1
    }
    require(!inQuote,
      s"pipeline line $lineNo: unterminated quote")
    flush()
    out.result()
  }

  def parse(config: String): Seq[Stage] = {
    val stages = config.linesIterator.zipWithIndex
      .map { case (raw, i) => (tokenize(raw, i + 1), i + 1) }
      .filter(_._1.nonEmpty)
      .map { case (parts, i) =>
        val params = parts.tail.map { p =>
          p.split("=", 2) match {
            case Array(k, v) if v.nonEmpty => k -> v
            case _ => throw new IllegalArgumentException(
              s"pipeline line $i: malformed param '$p' (want key=value)")
          }
        }.toMap
        Stage(parts.head, params, i)
      }.toSeq
    stages.foreach { s =>
      val allowed = Allowed.getOrElse(s.name,
        throw new IllegalArgumentException(
          s"pipeline line ${s.line}: unknown stage '${s.name}' " +
            s"(known: ${Allowed.keys.toSeq.sorted.mkString(", ")})"))
      val bad = s.params.keySet -- allowed
      require(bad.isEmpty,
        s"pipeline line ${s.line}: unknown ${s.name} param(s) " +
          s"${bad.toSeq.sorted.mkString(", ")} (allowed: " +
          s"${allowed.toSeq.sorted.mkString(", ")})")
    }
    require(stages.nonEmpty, "pipeline: empty config")
    require(ReadStages.contains(stages.head.name),
      "pipeline: first stage must be 'read' or 'readWarc'")
    require(stages.tail.forall(s => !ReadStages.contains(s.name)),
      "pipeline: 'read'/'readWarc' only as the first stage")
    stages
  }

  private val ReadStages = Set("read", "readWarc", "readSnapshot",
    "readChanges")

  /** Cross-stage run context: the resolved id/text column names and the
    * one piece of mutable state — tokenize's trained merges, needed by
    * decontamIds to encode the benchmark IDENTICALLY (an independently-
    * trained benchmark vocabulary would never collide). */
  private final class Ctx(val spark: SparkSession, val baseDir: String,
                          val idCol: String, val textCol: String) {
    var trainedMerges: Option[Seq[(String, String)]] = None
  }

  private def prepare(spark: SparkSession, baseDir: String,
                      config: String): (Seq[Stage], DataFrame, Ctx) = {
    val stages = parse(config)
    val head = stages.head
    val ctx = new Ctx(spark, baseDir,
      head.params.getOrElse("idCol", "doc_id"),
      head.params.getOrElse("textCol", "text"))
    val source = head.name match {
      case "read" => Tables.load(spark, baseDir,
        head.params.getOrElse("table", "documents"))
      case "readSnapshot" =>
        // curate FROM a versioned table (sinks.Snapshots): the file
        // list is pinned at read time, so the run is stable against
        // concurrent commits; version= time-travels
        val path = head.params.getOrElse("path",
          throw new IllegalArgumentException(
            s"pipeline line ${head.line}: readSnapshot needs path="))
        val version = head.params.get("version").map { v =>
          try v.toInt catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"pipeline line ${head.line}: version must be an integer, " +
                s"got '$v'") }
        }
        sinks.Snapshots.read(spark, path, version)
      case "readChanges" =>
        // the nightly incremental run: curate ONLY what changed on the
        // upstream versioned table since the cursor the last run
        // recorded. types= filters _change_type (default insert — the
        // usual consumption; deletes matter to index maintainers, who
        // ask for types=insert,delete or types=delete). The always-on
        // sibling is the graft-cdc STREAMING source
        // (Snapshots.readChangesStream): same feed, offset = the log
        // version, no hand-rolled cursor — pipelines are batch, so the
        // door here stays the cursor form.
        val path = head.params.getOrElse("path",
          throw new IllegalArgumentException(
            s"pipeline line ${head.line}: readChanges needs path="))
        val since = head.params.get("since").map { v =>
          try v.toInt catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"pipeline line ${head.line}: since must be an integer, " +
                s"got '$v'") }
        }.getOrElse(throw new IllegalArgumentException(
          s"pipeline line ${head.line}: readChanges needs since= " +
            "(0 = from the beginning)"))
        val types = head.params.getOrElse("types", "insert")
          .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(types.nonEmpty && types.forall(Set("insert", "delete")),
          s"pipeline line ${head.line}: readChanges types= must name " +
            s"insert and/or delete, got '${types.mkString(",")}'")
        sinks.Snapshots.changes(spark, path, since)
          .where(col("_change_type").isin(types: _*))
      case "readWarc" =>
        // curate a crawl archive directly: the graft-warc DSv2 scan,
        // kept types only (default: responses — the in-reader pushdown
        // skips the rest's payloads), body decoded as the text column,
        // record_id as the id, plus url (so blockDomains/domainQuality
        // work with their urlCol default), warc_date and http_status
        // for gates
        val path = head.params.getOrElse("path",
          throw new IllegalArgumentException(
            s"pipeline line ${head.line}: readWarc needs path="))
        val types = head.params.getOrElse("types", "response")
          .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(types.nonEmpty,
          s"pipeline line ${head.line}: readWarc types= must name " +
            "at least one record type")
        spark.read.format("graft-warc").load(path)
          .filter(col("warc_type").isin(types: _*))
          .select(col("record_id").as(ctx.idCol),
            decode(col("body"), "UTF-8").as(ctx.textCol),
            col("url"), col("warc_date"), col("http_status"))
    }
    (stages, source, ctx)
  }

  /** Executes the config against `baseDir`'s fixture tables and returns
    * the final frame (any `write` stage has already materialized by
    * then — it is the only action; everything else stays one lazy
    * plan). */
  def run(spark: SparkSession, baseDir: String, config: String): DataFrame = {
    val (stages, source, ctx) = prepare(spark, baseDir, config)
    stages.tail.foldLeft(source)((df, s) => applyStage(df, s, ctx))
  }

  /** [[run]] plus a per-stage DROP LEDGER — the Dolma attribute
    * discipline at pipeline granularity: "which gate killed document
    * X". Returns (final frame, ledger) where the ledger is one row
    * `(stage, line, idCol)` per document present before a stage and
    * absent after it (stages whose output doesn't carry `idCol` — e.g.
    * a bench-manifest sink — are skipped). Costs what [[run]] doesn't:
    * every intermediate frame is localCheckpoint-materialized (each
    * stage computed exactly once, attribution never replays trainers)
    * and each stage pays one id-side except. Ledger ids are distinct
    * per stage (the documents contract); use [[run]] when attribution
    * isn't needed. */
  def runWithLedger(spark: SparkSession, baseDir: String,
                    config: String): (DataFrame, DataFrame) = {
    val (stages, source, ctx) = prepare(spark, baseDir, config)
    val template = source.select(lit("").as("stage"), lit(0).as("line"),
      col(ctx.idCol)).limit(0)
    var ledgers = List.empty[DataFrame]
    val out = stages.tail.foldLeft(source.localCheckpoint()) { (df, s) =>
      val next = applyStage(df, s, ctx).localCheckpoint()
      if (df.columns.contains(ctx.idCol) && next.columns.contains(ctx.idCol)) {
        ledgers ::= df.select(col(ctx.idCol))
          .except(next.select(col(ctx.idCol)))
          .select(lit(s.name).as("stage"), lit(s.line).as("line"),
            col(ctx.idCol))
      }
      next
    }
    (out, ledgers.reverse.foldLeft(template)(_ unionByName _))
  }

  /** One stage = one call into an oracle-pinned operator (the registry
    * in [[Allowed]]); shared by [[run]] and [[runWithLedger]]. */
  private def applyStage(df: DataFrame, s: Stage, ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    val baseDir = ctx.baseDir
    val idCol = ctx.idCol
    val textCol = ctx.textCol
    def int(s: Stage, k: String, d: Int): Int = s.params.get(k).map { v =>
      try v.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"pipeline line ${s.line}: $k must be an integer, got '$v'") }
    }.getOrElse(d)
    def dbl(s: Stage, k: String, d: Double): Double = s.params.get(k).map { v =>
      try v.toDouble catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"pipeline line ${s.line}: $k must be a number, got '$v'") }
    }.getOrElse(d)
    locally {
      s.name match {
        case "clean" => df.withColumn(textCol, operators.Normalize.cleanText(
          col(textCol), s.params.getOrElse("form", "NFC"),
          s.params.get("lowercase").exists(_.toBoolean)))
        case "htmlExtract" => operators.Extract.mainContent(df, textCol,
          int(s, "minWords", 5), dbl(s, "minDensity", 0.25))
        case "lineFilter" => operators.LineFilter.cleanDocs(df, textCol,
          int(s, "minWords", 5), int(s, "minLines", 2))
        case "scrub" => operators.Scrub.scrubPii(df, textCol)
        case "repetitionGate" => operators.Repetition.filter(df, textCol,
          int(s, "n", 3), dbl(s, "maxDupFraction", 0.75),
          dbl(s, "maxTopFraction", 0.2))
        case "dropBoilerplate" =>
          // a prior lineFilter also emits line-count columns; shed them
          // so the rebuild's own counters never collide
          operators.LineFilter.dropBoilerplate(
            df.drop("n_lines_kept", "n_boiler_dropped"), textCol, idCol,
            int(s, "minDf", 10))
        case "dedupSpans" =>
          val out = operators.Spans.removeDupSpans(df, textCol, idCol,
              int(s, "w", 10))
            .withColumnRenamed("clean_text", textCol)
          val mk = int(s, "minKept", 0)
          if (mk > 0) out.filter(col("n_kept") >= mk) else out
        case "decontam" =>
          val benchTable = s.params.getOrElse("table",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: decontam needs table= (the " +
                "benchmark fixture table)"))
          val benchText = s.params.getOrElse("textCol", textCol)
          val bench = Tables.load(spark, baseDir, benchTable)
            .select(col(benchText).as(textCol))
          operators.Decontam.decontaminate(df, bench, textCol, idCol,
            int(s, "n", 13), dbl(s, "threshold", 0.01))
        case "qualityGate" =>
          val labelCol = s.params.getOrElse("labelCol",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: qualityGate needs labelCol="))
          val labeled = s.params.get("labelTrue") match {
            case Some(v) => df.withColumn("__qg_label",
              (col(labelCol) === lit(v)).cast("int"))
            case None => df.withColumn("__qg_label", col(labelCol))
          }
          val dim = int(s, "dim", 64)
          val model = operators.Classifier.train(labeled, textCol,
            "__qg_label", idCol, dim, int(s, "iterations", 5))
          operators.Classifier.gate(df, textCol, idCol, model.weights,
            model.bias, dim, dbl(s, "tau", 0.5))
        case "deriveUrl" =>
          val out = s.params.getOrElse("outCol", "url")
          Seq("source", "lang").foreach { c =>
            require(df.columns.contains(c),
              s"pipeline line ${s.line}: deriveUrl synthesizes from " +
                s"(source, lang, $idCol) and the frame lacks '$c' " +
                s"(has: ${df.columns.sorted.mkString(", ")})")
          }
          df.withColumn(out, concat(lit("https://"), lower(col("source")),
            lit("."), col("lang"), lit(".example.org/p/"),
            col(idCol).cast("string")))
        case "robotsGate" =>
          val urlCol = s.params.getOrElse("urlCol", "url")
          require(df.columns.contains(urlCol),
            s"pipeline line ${s.line}: robotsGate urlCol= column " +
              s"'$urlCol' not in the frame (has: " +
              s"${df.columns.sorted.mkString(", ")}) — derive one with " +
              "a deriveUrl stage or point urlCol= at the crawl's own")
          val robotsTable = s.params.getOrElse("table",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: robotsGate needs table= (the " +
                "robots.txt bodies fixture table)"))
          val hostCol = s.params.getOrElse("hostCol", "host")
          val bodyCol = s.params.getOrElse("bodyCol", "body")
          val robots = Tables.load(spark, baseDir, robotsTable)
          Seq(hostCol, bodyCol).foreach(c => require(
            robots.columns.contains(c),
            s"pipeline line ${s.line}: robotsGate table '$robotsTable' " +
              s"lacks column '$c'"))
          // agent= selects THIS crawler's groups (RFC 9309 §2.2.1
          // case-insensitive product token, * fallback); default stays
          // the retroactive * posture
          operators.UrlOps.applyRobots(df, urlCol, idCol,
            operators.UrlOps.parseRobots(robots, hostCol, bodyCol,
              s.params.get("agent")))
        case "blockDomains" =>
          val urlCol = s.params.getOrElse("urlCol", "url")
          require(df.columns.contains(urlCol),
            s"pipeline line ${s.line}: blockDomains urlCol= column " +
              s"'$urlCol' not in the frame (has: " +
              s"${df.columns.sorted.mkString(", ")}) — derive one with " +
              "a deriveUrl stage or point urlCol= at the crawl's own")
          val lits = s.params.get("domains").toSeq
            .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          val fromTable = s.params.get("table").map { t =>
            val dc = s.params.getOrElse("domainCol", "domain")
            val b = Tables.load(spark, baseDir, t)
            require(b.columns.contains(dc),
              s"pipeline line ${s.line}: blockDomains table '$t' lacks " +
                s"domainCol '$dc'")
            b.select(col(dc).as("domain"))
          }
          require(lits.nonEmpty || fromTable.nonEmpty,
            s"pipeline line ${s.line}: blockDomains needs domains= " +
              "and/or table= (an empty blocklist drops nothing — say so " +
              "by omitting the stage)")
          import spark.implicits._
          val blocked = fromTable match {
            case Some(t) if lits.isEmpty => t
            case Some(t) => t.unionByName(lits.toDF("domain"))
            case None => lits.toDF("domain")
          }
          operators.UrlOps.dropBlockedDomains(df, urlCol, idCol, blocked)
        case "domainQuality" =>
          val urlCol = s.params.getOrElse("urlCol", "url")
          require(df.columns.contains(urlCol),
            s"pipeline line ${s.line}: domainQuality urlCol= column " +
              s"'$urlCol' not in the frame (has: " +
              s"${df.columns.sorted.mkString(", ")}) — derive one with " +
              "a deriveUrl stage or point urlCol= at the crawl's own")
          val minMean = s.params.get("minMean").map { v =>
            try v.toDouble catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"pipeline line ${s.line}: minMean must be a number, got '$v'") }
          }.getOrElse(throw new IllegalArgumentException(
            s"pipeline line ${s.line}: domainQuality needs minMean= " +
              "(the FineWeb-style origin cut is an explicit editorial " +
              "choice, not a default)"))
          val minDocs = int(s, "minDocs", 1).toLong
          s.params.get("valueCol") match {
            case Some(c) =>
              require(df.columns.contains(c),
                s"pipeline line ${s.line}: domainQuality valueCol= column " +
                  s"'$c' not in the frame (has: ${df.columns.sorted.mkString(", ")})")
              operators.UrlOps.keepDomainsByMean(df, urlCol, c, minMean, minDocs)
            case None => // default stat: exact token count (q203's shape)
              operators.UrlOps.keepDomainsByMean(
                df.withColumn("__dq_n",
                  size(functions.Text.tokens(col(textCol))).cast("long")),
                urlCol, "__dq_n", minMean, minDocs).drop("__dq_n")
          }
        case "sample" =>
          if (!s.params.contains("rate")) throw new IllegalArgumentException(
            s"pipeline line ${s.line}: sample needs rate=")
          operators.Mix.sampleByHash(df, idCol, dbl(s, "rate", 0.0),
            s.params.getOrElse("salt", ""))
        case "weightedSample" =>
          // quality-weighted subsample (q222): weight = scoreCol= or the
          // TTR proxy (the tokenBudget default); winners semi-join back
          // so the frame keeps its columns
          val n = s.params.get("n").map { v =>
            try v.toInt catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"pipeline line ${s.line}: n must be an integer, got '$v'") }
          }.getOrElse(throw new IllegalArgumentException(
            s"pipeline line ${s.line}: weightedSample needs n= (rows kept)"))
          val tk = functions.Text.tokens(col(textCol))
          val weighted = s.params.get("scoreCol") match {
            case Some(c) =>
              require(df.columns.contains(c),
                s"pipeline line ${s.line}: weightedSample scoreCol= column " +
                  s"'$c' not in the frame (has: ${df.columns.sorted.mkString(", ")})")
              df.withColumn("__ws_w", col(c))
            case None => df.withColumn("__ws_w",
              when(size(tk) > 0,
                size(array_distinct(tk)).cast("double") / size(tk)))
          }
          // byCol= makes the draw STRATIFIED: n winners per group
          // (weightedSampleByGroup), e.g. n per language — else global
          val winners = s.params.get("byCol") match {
            case Some(g) =>
              require(weighted.columns.contains(g),
                s"pipeline line ${s.line}: weightedSample byCol= column " +
                  s"'$g' not in the frame (has: " +
                  s"${df.columns.sorted.mkString(", ")})")
              operators.Sample.weightedSampleByGroup(
                weighted, Seq(g), idCol, "__ws_w", n,
                s.params.getOrElse("salt", ""))
            case None => operators.Sample.weightedSample(
              weighted, idCol, "__ws_w", n, s.params.getOrElse("salt", ""))
          }
          df.join(winners.select(col(idCol)), Seq(idCol), "left_semi")
        case "scoreBuckets" =>
          // CCNet quality cut in config land (q234): ADDS a `bucket`
          // column in [1, n=] (1 = lowest scores) — an enrichment
          // stage, no rows dropped; filter on it downstream. Score =
          // scoreCol= or the TTR proxy; byCol= cuts PER GROUP (the
          // per-language CCNet contract — thresholds per group, via
          // the rank scan, never a per-group window).
          val nb = int(s, "n", 10)
          val tk = functions.Text.tokens(col(textCol))
          val scored = s.params.get("scoreCol") match {
            case Some(c) =>
              require(df.columns.contains(c),
                s"pipeline line ${s.line}: scoreBuckets scoreCol= column " +
                  s"'$c' not in the frame (has: ${df.columns.sorted.mkString(", ")})")
              df.withColumn("__sb_s", col(c))
            case None => df.withColumn("__sb_s",
              when(size(tk) > 0,
                size(array_distinct(tk)).cast("double") / size(tk)))
          }
          val bucketed = s.params.get("byCol") match {
            case Some(g) =>
              require(scored.columns.contains(g),
                s"pipeline line ${s.line}: scoreBuckets byCol= column " +
                  s"'$g' not in the frame (has: " +
                  s"${df.columns.sorted.mkString(", ")})")
              operators.Quality.scoreBucketsBy(scored, "__sb_s", Seq(g), nb)
            case None => operators.Quality.scoreBuckets(scored, "__sb_s", nb)
          }
          bucketed.drop("__sb_s")
        case "balanceSources" => operators.Mix.balanceSources(df, idCol,
          s.params.getOrElse("byCol", "source"))
        case "tokenBudget" =>
          // quality-ordered selection until `budget` tokens (q196);
          // score = an existing column via scoreCol=, else the TTR
          // proxy (distinct tokens / tokens) — zero-token docs are
          // unscorable and never selected either way
          val budget = s.params.get("budget").map { v =>
            try v.toLong catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"pipeline line ${s.line}: budget must be an integer, got '$v'") }
          }.getOrElse(throw new IllegalArgumentException(
            s"pipeline line ${s.line}: tokenBudget needs budget= (tokens)"))
          val tk = functions.Text.tokens(col(textCol))
          val withTok = df.withColumn("__tb_n", size(tk).cast("long"))
          val scored = s.params.get("scoreCol") match {
            case Some(c) =>
              require(df.columns.contains(c),
                s"pipeline line ${s.line}: tokenBudget scoreCol= column " +
                  s"'$c' not in the frame (has: ${df.columns.sorted.mkString(", ")})")
              withTok.withColumn("__tb_s", col(c))
            case None => withTok.withColumn("__tb_s",
              size(array_distinct(tk)).cast("double") / size(tk))
          }
          operators.Mix.selectByTokenBudget(scored.filter(col("__tb_n") > 0),
              "__tb_s", "__tb_n", idCol, budget)
            .drop("__tb_n", "__tb_s")
        case "chunkSentences" =>
          // RAG chunking in config land: the frame explodes into one
          // row per chunk (documented row-multiplying stage, like
          // `shards`); downstream stages see the chunk as the text
          val out = operators.Chunk.bySentence(df, textCol,
            int(s, "maxTokens", 128), int(s, "maxSentenceTokens", 64))
          out.withColumn(textCol, col("chunk_text")).drop("chunk_text")
        case "tokenize" =>
          val ms = operators.Bpe.train(df, textCol, int(s, "merges", 30))
            ._1.map(m => (m._2, m._3))
          ctx.trainedMerges = Some(ms)
          operators.Tokenizer.encode(df, textCol, ms)
        case "detokenize" =>
          // render token_ids back to text under the run's OWN trained
          // merges (the q230 round trip at config level) — outCol=
          // defaults to the text column, the inspection rebind
          val ms = ctx.trainedMerges.getOrElse(
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: detokenize requires a tokenize " +
                "stage earlier in the config — ids only decode under " +
                "the merges that produced them"))
          require(df.columns.contains("token_ids"),
            s"pipeline line ${s.line}: detokenize needs the token_ids " +
              s"column (has: ${df.columns.sorted.mkString(", ")})")
          operators.Tokenizer.decode(df, "token_ids", ms,
            s.params.getOrElse("outCol", textCol))
        case "decontamIds" =>
          val ms = ctx.trainedMerges.getOrElse(
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: decontamIds requires a tokenize " +
                "stage earlier in the config — the benchmark must be " +
                "encoded with the run's own trained merges"))
          val benchTable = s.params.getOrElse("table",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: decontamIds needs table= (the " +
                "benchmark fixture table)"))
          val benchText = s.params.getOrElse("textCol", textCol)
          val bench = operators.Tokenizer.encode(
            Tables.load(spark, baseDir, benchTable)
              .select(col(benchText).as(textCol)), textCol, ms)
          operators.Decontam.decontaminateIds(df, bench, "token_ids",
            int(s, "n", 13), dbl(s, "threshold", 0.01))
        case "shards" =>
          val path = s.params.getOrElse("path",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: shards needs path="))
          sinks.ShardWriter.writeShards(df, idCol, "token_ids", path,
            int(s, "budget", 1 << 20).toLong,
            int(s, "chunkTokens", 128), int(s, "overlap", 32))
        case "exactDedup" => operators.Dedup.exactByText(df, textCol, idCol)
        case "nearDedup" => operators.Dedup.pruneNearDups(df, textCol, idCol,
          int(s, "shingle", 5), int(s, "bands", 4), int(s, "maxBucket", 1024))
        case "embedDedup" =>
          // default centered: config runs inherit the measured-dominant
          // geometry (centered buckets at formula bits, raw-cosine
          // verification — the DocEmbed.pruneNearDups round-13 default);
          // centered=false falls back to raw buckets sized by
          // measurement (SkewAwareBits), the pre-r13 behavior
          val ctr = s.params.get("centered").forall(_.toBoolean)
          operators.DocEmbed.pruneNearDups(df, textCol,
            idCol, dbl(s, "minCos", 0.9), int(s, "dim", 128),
            int(s, "outDim", 64),
            int(s, "bits", if (ctr) operators.Similarity.AutoBits
                           else operators.Similarity.SkewAwareBits),
            int(s, "maxBucket", 1024), centered = ctr)
        case "minTokens" => df.filter(
          size(functions.Text.tokens(col(textCol))) >= int(s, "n", 10))
        case "langId" =>
          // trains on the frame's own labels (langCol), appends `pred`;
          // deterministic, so a config rerun reproduces the column
          val langs = s.params.getOrElse("langs",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: langId needs langs=a,b,...")
          ).split(",").toSeq
          val model = operators.LangId.train(df, textCol,
            s.params.getOrElse("langCol", "lang"), idCol, langs,
            int(s, "dim", 64), int(s, "n", 3), int(s, "iterations", 3))
          df.join(operators.LangId.predict(df, textCol, idCol, model),
            Seq(idCol))
        case "split" => operators.Splits.assign(df, idCol,
          int(s, "trainPct", 90), int(s, "valPct", 5))
        case "unimaxSelect" =>
          // the q198 composition as one stage: token-weighted UniMax
          // water-fills each group's token allocation (avgEpochs <= 1
          // is the SELECTION regime), then the grouped budget selection
          // fills each with the group's best documents
          val byCol = s.params.getOrElse("byCol", "lang")
          require(df.columns.contains(byCol),
            s"pipeline line ${s.line}: unimaxSelect byCol= column " +
              s"'$byCol' not in the frame (has: ${df.columns.sorted.mkString(", ")})")
          val avg = dbl(s, "avgEpochs", 0.5)
          val mx = dbl(s, "maxEpochs", 1.0)
          val tk = functions.Text.tokens(col(textCol))
          val withTok = df.withColumn("__ub_n", size(tk).cast("long"))
          val scored = (s.params.get("scoreCol") match {
            case Some(c) =>
              require(df.columns.contains(c),
                s"pipeline line ${s.line}: unimaxSelect scoreCol= column " +
                  s"'$c' not in the frame (has: ${df.columns.sorted.mkString(", ")})")
              withTok.withColumn("__ub_s", col(c))
            case None => withTok.withColumn("__ub_s",
              size(array_distinct(tk)).cast("double") / size(tk))
          }).filter(col("__ub_n") > 0)
          // unimaxPlanBy keys its output on "lang" whatever the group col
          val budgets = operators.Mix
            .unimaxPlanBy(scored, byCol, col("__ub_n"), avg, mx)
            .select(col("lang").as(byCol),
              floor(col("alloc")).cast("long").as("__ub_budget"))
          operators.Mix.selectByTokenBudgetByGroup(scored, byCol, "__ub_s",
              "__ub_n", idCol, budgets, "__ub_budget")
            .drop("__ub_n", "__ub_s")
        case "report" =>
          // pass-through observability sink: publish the corpus DATA
          // CARD (CorpusReport.build, q194) of the frame AS IT IS at
          // this point in the chain, then hand the frame on unchanged.
          // Place one before and one after a gate and
          // CorpusReport.diff(q195) of the two parquet cards answers
          // "what did the gate do to the corpus".
          val path = s.params.getOrElse("path",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: report needs path="))
          def dimOpt(k: String): Option[String] = s.params.get(k).map { c =>
            require(df.columns.contains(c),
              s"pipeline line ${s.line}: report $k= column '$c' not in " +
                s"the frame (has: ${df.columns.sorted.mkString(", ")})")
            c
          }
          operators.CorpusReport.build(df, textCol, idCol,
              langCol = dimOpt("langCol"), sourceCol = dimOpt("sourceCol"),
              urlCol = dimOpt("urlCol"),
              domainTopK = int(s, "domainTopK", 100))
            .coalesce(1).write.mode("overwrite").parquet(path)
          df
        case "checks" =>
          // data-quality GATE (Checks.assertAll, q208): the run dies
          // HERE, naming each failed constraint with its observation,
          // instead of shipping a corpus that violates its contract.
          // spec= entries are comma-separated name:col:args; regex=
          // carries ONE anchored-match constraint as col:minFrac:tail
          // — the PATTERN is the tail, so ':' and ',' inside it are
          // data, and the quote-aware tokenizer protects whitespace
          // ('#' included). This stage is an ACTION: it evaluates the
          // plan at this point once (the one-pass check aggregate),
          // then hands the frame on unchanged.
          def num(e: String, v: String): Double =
            try v.toDouble catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"pipeline line ${s.line}: checks entry '$e': " +
                  s"'$v' is not a number") }
          val fromSpec: Seq[operators.Checks.Check] =
            s.params.get("spec").toSeq.flatMap(_.split(",").toSeq).map { e =>
              e.split(":") match {
                case Array("complete", c, f) =>
                  operators.Checks.Complete(c, num(e, f))
                case Array("unique", c, f) =>
                  operators.Checks.Unique(c, num(e, f))
                case Array("between", c, lo, hi) =>
                  operators.Checks.ValuesBetween(c, num(e, lo), num(e, hi))
                case Array("mean", c, lo, hi) =>
                  operators.Checks.MeanBetween(c, num(e, lo), num(e, hi))
                case _ => throw new IllegalArgumentException(
                  s"pipeline line ${s.line}: malformed checks entry " +
                    s"'$e' (want complete:col:minFrac | " +
                    "unique:col:minFrac | between:col:lo:hi | " +
                    "mean:col:lo:hi)")
              }
            }
          val fromRegex: Seq[operators.Checks.Check] =
            s.params.get("regex").toSeq.map { v =>
              v.split(":", 3) match {
                case Array(c, f, re) if re.nonEmpty =>
                  operators.Checks.MatchesRegex(c, re, num(s"regex=$v", f))
                case _ => throw new IllegalArgumentException(
                  s"pipeline line ${s.line}: malformed regex= value " +
                    s"'$v' (want col:minFrac:pattern — the pattern is " +
                    "everything after the second ':')")
              }
            }
          require(fromSpec.nonEmpty || fromRegex.nonEmpty,
            s"pipeline line ${s.line}: checks needs spec= and/or regex=")
          operators.Checks.assertAll(df, fromSpec ++ fromRegex)
        case "fetchWarc" =>
          // cc-index random-access rehydration (q225): the CURRENT
          // frame is the index — a curated (record_file, record_offset)
          // key set, e.g. `read table=ccindex` plus filter stages — and
          // the stage REPLACES it with the fetched records in
          // readWarc's shape (record_id as the id, body decoded as the
          // text column, url/date/status for the gates). Each record
          // pays one seek + its own bytes; no segment is streamed past.
          Seq("record_file", "record_offset").foreach(c => require(
            df.columns.contains(c),
            s"pipeline line ${s.line}: fetchWarc needs column '$c' in " +
              "the frame (the cc-index key every graft-warc scan " +
              s"emits; has: ${df.columns.sorted.mkString(", ")})"))
          graft.sources.warc.WarcFetch.fetch(df)
            .select(col("record_id").as(idCol),
              decode(col("body"), "UTF-8").as(textCol),
              col("url"), col("warc_date"), col("http_status"))
        case "writeWarc" =>
          // archive-to-archive curation: re-serialize the surviving
          // frame as WARC response segments (WarcSink). Pass-through
          // sink like `write`. Strict provenance: the url and date
          // columns must exist (readWarc provides both) — stamping
          // fabricated fetch dates would forge provenance, so there is
          // no default.
          val path = s.params.getOrElse("path",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: writeWarc needs path="))
          val urlCol = s.params.getOrElse("urlCol", "url")
          val dateCol = s.params.getOrElse("dateCol", "warc_date")
          Seq(urlCol, dateCol).foreach(c => require(df.columns.contains(c),
            s"pipeline line ${s.line}: writeWarc column '$c' not in the " +
              s"frame (has: ${df.columns.sorted.mkString(", ")}) — " +
              "readWarc/deriveUrl provide url; point urlCol=/dateCol= " +
              "at the crawl's own columns"))
          val status =
            if (df.columns.contains("http_status")) col("http_status")
            else lit(200)
          sinks.WarcSink.write(
            df.select(col(urlCol).as("url"),
              col(dateCol).cast("timestamp").as("warc_date"),
              col(idCol).cast("string").as("record_id"),
              status.as("http_status"),
              encode(col(textCol), "UTF-8").as("body")),
            path, gzip = s.params.get("gzip").forall(_.toBoolean),
            // warcinfo=true opens each segment with the provenance
            // leader (software/format/segment, dated at the segment's
            // first response — the Common Crawl convention)
            warcinfo = s.params.get("warcinfo").exists(_.toBoolean))
          df
        case "writeSnapshot" =>
          // land the surviving frame as a COMMIT on the versioned
          // table: mode=append (default) adds to it, mode=overwrite
          // replaces it — either way readers see the old version until
          // the commit flips, and time travel keeps it afterwards
          val path = s.params.getOrElse("path",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: writeSnapshot needs path="))
          s.params.getOrElse("mode", "append") match {
            case "append" => sinks.Snapshots.writeAppend(df, path)
            case "overwrite" => sinks.Snapshots.writeOverwrite(df, path)
            case other => throw new IllegalArgumentException(
              s"pipeline line ${s.line}: writeSnapshot mode= must be " +
                s"append or overwrite, got '$other'")
          }
          df
        case "write" =>
          val path = s.params.getOrElse("path",
            throw new IllegalArgumentException(
              s"pipeline line ${s.line}: write needs path="))
          sinks.Sink.write(df, path, s.params.getOrElse("table", "out"),
            sinks.Sink.Config(
              format = s.params.getOrElse("format", "parquet"),
              compression = s.params.get("compression")))
          df
      }
    }
  }

  /** CLI: `Pipeline <baseDir> <configFile> [--ledger]` — runs the
    * config and prints the surviving row count (writes happen inside
    * `write` stages); `--ledger` switches to [[runWithLedger]] and also
    * prints per-stage drop counts. */
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Pipeline <baseDir> <configFile> [--ledger]")
      sys.exit(2)
    }
    val Array(baseDir, configPath) = args.take(2)
    val wantLedger = args.drop(2).contains("--ledger")
    val config = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(configPath)), "UTF-8")
    val spark = GraftSession.local()
    try {
      if (wantLedger) {
        val (out, ledger) = runWithLedger(spark, baseDir, config)
        ledger.groupBy(col("stage"), col("line"))
          .agg(count(lit(1)).as("dropped"))
          .orderBy(col("line"))
          .collect()
          .foreach(r => println(
            s"pipeline: stage ${r.getString(0)} (line ${r.getInt(1)}) " +
              s"dropped ${r.getLong(2)}"))
        println(s"pipeline: ${out.count()} rows")
      } else println(s"pipeline: ${run(spark, baseDir, config).count()} rows")
    } finally spark.stop()
  }
}
