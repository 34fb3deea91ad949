package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Lenient, Text}
import graft.operators.{Coerce, Flatten, Multimodal}
import graft.sources.EsMapping

/** Registered queries exercising the reference-parity transform surface
  * (SURVEY.md §1.4, §2.1 T1-T4, S2): lenient casts with the epoch
  * heuristic, first-of-list scalarization, struct flatten naming, the
  * ES-mapping -> StructType -> Coerce pipeline, and the multimodal binary
  * column plumbing.
  */
object CoerceOps {

  type Q = (SparkSession, String) => DataFrame

  // -- q40: lenient long — int(v) falling back to int(float(v)) --
  private val q40: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents").select(
      $"doc_id",
      Lenient.lenientLong(concat($"n_chars".cast("string"), lit(".7"))).as("from_frac"),
      Lenient.lenientLong(concat(lit("-"), $"n_chars".cast("string"), lit(".7"))).as("from_neg"),
      Lenient.lenientLong($"n_chars".cast("string")).as("from_int"),
      Lenient.lenientLong(concat(lit("x"), $"n_chars".cast("string"))).as("from_junk"))
  }
  private val q40Sql = {
    // DuckDB TRY_CAST(varchar AS BIGINT) ROUNDS '157.7'->158; Python
    // int(float(v)) truncates — gate the direct cast to integral strings.
    def lenientLong(e: String) =
      s"CASE WHEN regexp_matches($e, '^\\s*[-+]?\\d+\\s*$$') THEN TRY_CAST($e AS BIGINT) " +
        s"ELSE CAST(trunc(TRY_CAST($e AS DOUBLE)) AS BIGINT) END"
    s"""SELECT doc_id,
       |  ${lenientLong("CAST(n_chars AS VARCHAR) || '.7'")} AS from_frac,
       |  ${lenientLong("'-' || CAST(n_chars AS VARCHAR) || '.7'")} AS from_neg,
       |  ${lenientLong("CAST(n_chars AS VARCHAR)")} AS from_int,
       |  ${lenientLong("'x' || CAST(n_chars AS VARCHAR)")} AS from_junk
       |FROM documents""".stripMargin
  }

  // -- q41: lenient timestamp — ISO branch + epoch-magnitude heuristic --
  private val q41: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "events").select(
      $"event_id",
      Lenient.lenientTimestamp(($"event_id" + 1700000000L).cast("string")).as("ts_sec"),
      Lenient.lenientTimestamp(($"event_id" + 1700000000000L).cast("string")).as("ts_ms"),
      Lenient.lenientTimestamp(date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss")).as("ts_iso"),
      Lenient.lenientTimestamp(lit("not a time")).as("ts_junk"))
  }
  private val q41Sql =
    """SELECT event_id,
      |  make_timestamp(CAST(event_id + 1700000000 AS BIGINT) * 1000000) AS ts_sec,
      |  make_timestamp(CAST(event_id + 1700000000000 AS BIGINT) * 1000) AS ts_ms,
      |  TRY_CAST(strftime(ts, '%Y-%m-%dT%H:%M:%S') AS TIMESTAMP) AS ts_iso,
      |  TRY_CAST('not a time' AS TIMESTAMP) AS ts_junk
      |FROM events""".stripMargin

  // -- q42: first-of-list scalarization (T2), empty list -> null --
  private val q42: Q = (s, dir) => {
    import s.implicits._
    val tk = Text.tokens($"text")
    Tables.load(s, dir, "documents").select(
      $"doc_id",
      Lenient.firstOfList(tk).as("first_tok"),
      Lenient.firstOfList(filter(tk, t => length(t) > 100)).as("first_long"))
  }
  private val q42Sql =
    """SELECT doc_id,
      |  (list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0))[1] AS first_tok,
      |  (list_filter(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0),
      |               t -> len(t) > 100))[1] AS first_long
      |FROM documents""".stripMargin

  // -- q43: struct flatten naming parent_child (T3) --
  private val q43: Q = (s, dir) => {
    import s.implicits._
    val nested = Tables.load(s, dir, "events").select(
      $"event_id",
      struct(
        struct($"user_id".as("id"), $"event_type".as("type")).as("u"),
        $"value".as("v")).as("payload"))
    Flatten(nested)
  }
  private val q43Sql =
    """SELECT event_id, user_id AS payload_u_id, event_type AS payload_u_type,
      |  value AS payload_v
      |FROM events""".stripMargin

  // -- q44: S2 + T1 — ES mapping -> StructType -> lenient Coerce --
  private val q44: Q = (s, dir) => {
    import s.implicits._
    val mapping =
      """{"properties": {
        |  "k":    {"type": "long"},
        |  "tag":  {"type": "keyword"},
        |  "seen": {"type": "date"}
        |}}""".stripMargin
    val (target, _) = EsMapping.toStructType(mapping)
    // parse props as raw strings, then let Coerce apply the lenient rules
    val raw = Tables.load(s, dir, "events").select(
      $"event_id",
      get_json_object($"props", "$.k").as("k"),
      concat(lit("t"), get_json_object($"props", "$.k")).as("tag"),
      ($"event_id" + 1700000000L).cast("string").as("seen"))
    // target schema = event_id (passthrough) + the mapping-derived fields
    val full = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType) +: target.fields.toSeq)
    Coerce(full)(raw)
  }
  private val q44Sql =
    """SELECT event_id,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  't' || json_extract_string(props, '$.k') AS tag,
      |  make_timestamp(CAST(event_id + 1700000000 AS BIGINT) * 1000000) AS seen
      |FROM events""".stripMargin

  // -- q45: multimodal binary column plumbing --
  private val q45: Q = (s, dir) => {
    import s.implicits._
    val payload = $"text".cast("binary")
    Tables.load(s, dir, "documents").select(
      $"doc_id",
      octet_length(payload).cast("long").as("n_bytes"),
      md5(payload).as("digest"),
      (lit(64) + octet_length(payload) % 512).cast("long").as("fake_width"),
      (lit(64) + (octet_length(payload) * 7) % 512).cast("long").as("fake_height"))
  }
  private val q45Sql =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS digest,
      |  CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS fake_width,
      |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS fake_height
      |FROM documents""".stripMargin

  // -- q46: multimodal decode stage (mapPartitions, stub codec) --
  // The features flow through the real per-partition decode path
  // (Multimodal.imageFeatures); the payloads here are text bytes, not
  // images, so the stub test double is passed explicitly — its
  // byte-length arithmetic is what makes the stage oracle-checkable in
  // SQL. The real JDK codec path is oracle-checked by q67 (PNG) and q68
  // (WAV) and pixel-verified in MultimodalSpec. img_mean (computed from
  // payload bytes) is not SQL-portable and is projected out here.
  private val q46: Q = (s, dir) => {
    import s.implicits._
    val bin = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("payload"))
    Multimodal.imageFeatures(bin, "payload", Multimodal.StubImageDecoder)
      .select($"doc_id",
        $"img_width".cast("long").as("img_width"),
        $"img_height".cast("long").as("img_height"),
        $"img_channels".cast("long").as("img_channels"),
        Multimodal.frameCount($"payload", 4096).as("n_frames"))
  }
  private val q46Sql =
    """SELECT doc_id,
      |  CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS img_width,
      |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS img_height,
      |  CAST(3 AS BIGINT) AS img_channels,
      |  CAST(ceil(octet_length(encode(text)) / 4096.0) AS BIGINT) AS n_frames
      |FROM documents""".stripMargin

  // -- q47: from_json over an EsMapping-derived schema (T1's structured
  // JSON parse: PERMISSIVE mode nulls malformed docs instead of failing,
  // the same log-and-null contract as the scalar coercions) --
  private val q47: Q = (s, dir) => {
    import s.implicits._
    val (schema, _) = EsMapping.toStructType("""{"properties": {"k": {"type": "long"}}}""")
    Tables.load(s, dir, "events")
      .select($"event_id", from_json($"props", schema).as("p"))
      .select($"event_id", $"p.k".as("k"), $"p".isNull.as("malformed"))
  }
  private val q47Sql =
    """SELECT event_id,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  (TRY_CAST(props AS JSON) IS NULL) AS malformed
      |FROM events""".stripMargin

  // -- q48: full S3 path — raw JSON dump read back through the DSv2
  // source, with the reference's map_source coercion running inside the
  // partition reader. The oracle sees only the original parquet table, so
  // a hash match proves dump -> jsonl -> scan -> coerce is lossless. --
  private val q48: Q = (s, dir) => {
    import graft.{DumpJob, Tables}
    import graft.sinks.Sink
    val out = Tables.scratch(s, dir, "q48")
    DumpJob.run(s, dir, out, DumpJob.Config(
      pattern = "supplier", sink = Sink.Config(format = "text")))
    val (schema, _) = EsMapping.toStructType(
      """{"properties": {
        |  "s_suppkey":   {"type": "long"},
        |  "s_name":      {"type": "keyword"},
        |  "s_nationkey": {"type": "long"},
        |  "s_acctbal":   {"type": "double"}
        |}}""".stripMargin)
    s.read.format("graft-jsonl").schema(schema).load(s"$out/supplier")
  }
  private val q48Sql =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"

  // -- q210: WARC round-trip — the crawl-archive container end to end:
  // documents serialized as WARC/1.0 response records (gzip, one record
  // per gzip member — the Common Crawl framing) by WarcSink, read back
  // through the graft-warc DSv2 source with the HTTP envelope stripped
  // in-reader. The oracle sees only the original parquet table and
  // re-derives the envelope arithmetic (content_length = 78 fixed
  // header bytes + the digits of the body length + the body bytes), so
  // a hash match proves serialize → gzip → parse → envelope-strip is
  // lossless, including the byte accounting. --
  private val q210: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "warc")
    val d = Tables.load(s, dir, "documents").select(
      concat(lit("https://"), lower($"source"), lit("."), $"lang",
        lit(".example.org/p/"), $"doc_id".cast("string")).as("url"),
      lit("2026-01-01 00:00:00").cast("timestamp").as("warc_date"),
      concat(lit("<urn:graft:"), $"doc_id".cast("string"), lit(">"))
        .as("record_id"),
      lit(200).as("http_status"),
      encode($"text", "UTF-8").as("body"))
    // 32 segments: WARC throughput scales with segment count (gzip is
    // the cost, one stream per file on both sides), so parallelism is
    // sized to the bench session; the row SET is segment-count-invariant
    graft.sinks.WarcSink.write(d.repartition(32, $"record_id")
      .sortWithinPartitions($"record_id"), out, gzip = true)
    s.read.format("graft-warc").load(out)
      .select($"url", $"warc_type", $"warc_date", $"record_id",
        $"content_type", $"content_length", $"http_status",
        decode($"body", "UTF-8").as("text"),
        length($"body").cast("long").as("n_body_bytes"))
  }
  private val q210Sql =
    """WITH d AS (
      |  SELECT
      |    'https://' || lower(source) || '.' || lang || '.example.org/p/' ||
      |      CAST(doc_id AS VARCHAR) AS url,
      |    '<urn:graft:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
      |    octet_length(encode(text)) AS n, text
      |  FROM documents)
      |SELECT url, 'response' AS warc_type,
      |  TIMESTAMP '2026-01-01 00:00:00' AS warc_date,
      |  record_id,
      |  'application/http; msgtype=response' AS content_type,
      |  CAST(78 + length(CAST(n AS VARCHAR)) + n AS BIGINT) AS content_length,
      |  200 AS http_status, text, CAST(n AS BIGINT) AS n_body_bytes
      |FROM d""".stripMargin

  // -- q212: WARC rehydration — the "re-read N curated documents out of
  // the archive" workload: a curated id list (every 8th document up to
  // 96 — present at every SF) filters the archive scan, the IN-list
  // pushes into the reader (only matched payloads are allocated; the
  // q210-family archive is rebuilt here so the query stands alone), and
  // the oracle re-derives the same 13 documents from the parquet table.
  // Spark re-checks the filter residually above the scan, so the hash
  // match pins both the pushdown's and the residual's semantics. --
  private val q212: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "warc_rehydrate")
    val d = Tables.load(s, dir, "documents").select(
      concat(lit("https://"), lower($"source"), lit("."), $"lang",
        lit(".example.org/p/"), $"doc_id".cast("string")).as("url"),
      lit("2026-01-01 00:00:00").cast("timestamp").as("warc_date"),
      concat(lit("<urn:graft:"), $"doc_id".cast("string"), lit(">"))
        .as("record_id"),
      lit(200).as("http_status"),
      encode($"text", "UTF-8").as("body"))
    graft.sinks.WarcSink.write(d.repartition(8, $"record_id")
      .sortWithinPartitions($"record_id"), out, gzip = true)
    val wanted = (0 to 96 by 8).map(i => s"<urn:graft:$i>")
    s.read.format("graft-warc").load(out)
      .filter($"record_id".isin(wanted: _*))
      .select($"url", $"record_id", decode($"body", "UTF-8").as("text"))
  }
  private val q212Sql =
    """SELECT
      |  'https://' || lower(source) || '.' || lang || '.example.org/p/' ||
      |    CAST(doc_id AS VARCHAR) AS url,
      |  '<urn:graft:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
      |  text
      |FROM documents
      |WHERE doc_id % 8 = 0 AND doc_id <= 96""".stripMargin

  // -- q225: cc-index build + random-access fetch — the Common Crawl
  // index workload end to end: a scan materializes the (url, record_id,
  // record_file, record_offset) index table, a curated slice of it
  // (every 16th document) feeds WarcFetch, which SEEKS to each offset
  // and decodes exactly that record — no segment is streamed past. The
  // oracle re-derives the same slice from the parquet table, so a hash
  // match proves index offsets + seek + member decode + envelope strip
  // land on the exact original bytes. (The offsets themselves are
  // physical and unknowable to the oracle — what's checkable is that
  // USING them retrieves the right records, which is the index's entire
  // contract.) --
  private val q225: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "warc_ccindex")
    val d = Tables.load(s, dir, "documents").select(
      concat(lit("https://"), lower($"source"), lit("."), $"lang",
        lit(".example.org/p/"), $"doc_id".cast("string")).as("url"),
      lit("2026-01-01 00:00:00").cast("timestamp").as("warc_date"),
      concat(lit("<urn:graft:"), $"doc_id".cast("string"), lit(">"))
        .as("record_id"),
      lit(200).as("http_status"),
      encode($"text", "UTF-8").as("body"))
    graft.sinks.WarcSink.write(d.repartition(8, $"record_id")
      .sortWithinPartitions($"record_id"), out, gzip = true)
    // the cc-index artifact: headers only (body pruned in-reader)
    val index = s.read.format("graft-warc").load(out)
      .select($"url", $"record_id", $"record_file", $"record_offset")
    val wanted = (4 to 100 by 16).map(i => s"<urn:graft:$i>")
    val curated = index.filter($"record_id".isin(wanted: _*))
    graft.sources.warc.WarcFetch.fetch(curated)
      .select($"url", $"record_id", decode($"body", "UTF-8").as("text"))
  }
  private val q225Sql =
    """SELECT
      |  'https://' || lower(source) || '.' || lang || '.example.org/p/' ||
      |    CAST(doc_id AS VARCHAR) AS url,
      |  '<urn:graft:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
      |  text
      |FROM documents
      |WHERE doc_id % 16 = 4 AND doc_id <= 100""".stripMargin

  // -- q49: geo_point operations (haversine + bounding box) --
  // Coordinates are derived deterministically from customer columns (no
  // geo fixture exists); the point is the operator surface over the
  // geo_point struct shape, with the exact same arithmetic in the oracle.
  private val q49: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Geo
    val pt = Geo.point(($"c_custkey" % 180) - 90, ($"c_acctbal" % 360) - 180)
    val origin = Geo.point(lit(48.8566), lit(2.3522))
    Tables.load(s, dir, "customer")
      .select($"c_custkey", pt.as("loc"))
      .filter(Geo.inBox($"loc", -60, 60, -120, 120))
      .select($"c_custkey",
        round($"loc.lat", 6).as("lat"), round($"loc.lon", 6).as("lon"),
        round(Geo.haversineKm($"loc", origin), 3).as("km_from_paris"))
  }
  private val q49Sql =
    """WITH pts AS (
      |  SELECT c_custkey,
      |    CAST(c_custkey % 180 - 90 AS DOUBLE) AS lat,
      |    CAST(c_acctbal % 360 - 180 AS DOUBLE) AS lon
      |  FROM customer)
      |SELECT c_custkey, round(lat, 6) AS lat, round(lon, 6) AS lon,
      |  round(2 * 6371.0088 * asin(sqrt(
      |    pow(sin((radians(48.8566) - radians(lat)) / 2), 2) +
      |    cos(radians(lat)) * cos(radians(48.8566)) *
      |    pow(sin((radians(2.3522) - radians(lon)) / 2), 2))), 3) AS km_from_paris
      |FROM pts
      |WHERE lat BETWEEN -60 AND 60 AND lon BETWEEN -120 AND 120""".stripMargin

  // -- q54: CSV dump round-trip — all-strings CSV re-typed by Coerce --
  // CSV is the reference's untyped-est format: read back as strings and
  // pushed through the schema-driven lenient coercion stage; a hash match
  // against the original table proves dump -> csv -> coerce is lossless
  // for these types.
  private val q54: Q = (s, dir) => {
    import graft.{DumpJob, Tables}
    import graft.sinks.Sink
    val out = Tables.scratch(s, dir, "q54")
    DumpJob.run(s, dir, out, DumpJob.Config(
      pattern = "region", sink = Sink.Config(format = "csv")))
    val raw = s.read.option("header", true).csv(s"$out/region")
    val (schema, _) = EsMapping.toStructType(
      """{"properties": {
        |  "r_regionkey": {"type": "long"},
        |  "r_name":      {"type": "keyword"}
        |}}""".stripMargin)
    Coerce(schema)(raw)
  }
  private val q54Sql = "SELECT r_regionkey, r_name FROM region"

  // -- q55: ndjson dump round-trip via the json reader with schema --
  private val q55: Q = (s, dir) => {
    import graft.{DumpJob, Tables}
    import graft.sinks.Sink
    val out = Tables.scratch(s, dir, "q55")
    DumpJob.run(s, dir, out, DumpJob.Config(
      pattern = "nation", sink = Sink.Config(format = "json")))
    val (schema, _) = EsMapping.toStructType(
      """{"properties": {
        |  "n_nationkey": {"type": "long"},
        |  "n_name":      {"type": "keyword"},
        |  "n_regionkey": {"type": "long"}
        |}}""".stripMargin)
    s.read.schema(schema).json(s"$out/nation")
  }
  private val q55Sql = "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  // -- q218: ORC dump round-trip — the third columnar ecosystem format
  // beside parquet (dumps feeding Hive/Trino/Presto estates read ORC
  // natively). ORC is typed, so unlike q54's CSV there is no coercion
  // leg: the round trip must preserve longs, strings, doubles, and
  // DATES bit-exactly through the Sink's rotation+rename pass and the
  // zstd codec. Oracle: the table itself — dump → orc → read-back is
  // lossless or the hash says otherwise. --
  private val q218: Q = (s, dir) => {
    import graft.DumpJob
    import graft.sinks.Sink
    val out = Tables.scratch(s, dir, "q218")
    DumpJob.run(s, dir, out, DumpJob.Config(
      pattern = "orders",
      sink = Sink.Config(format = "orc", compression = Some("zstd"))))
    s.read.orc(s"$out/orders")
  }
  private val q218Sql = "SELECT * FROM orders"

  // -- q221: schema-evolution merge read — the multi-year-corpus
  // reality parquet pipelines hit first: snapshot A was written before
  // the `lang` column existed, snapshot B after; one read must see the
  // WIDENED schema with A's missing column as NULL, not fail or
  // silently drop B's column (the default read takes the first
  // footer's schema). This is `mergeSchema` — a footer-union at plan
  // time, zero data cost — pinned here against an oracle that states
  // the widening explicitly (NULL AS lang for the old snapshot). --
  private val q221: Q = (s, dir) => {
    val out = Tables.scratch(s, dir, "q221")
    val d = graft.Tables.load(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$out/snap_a")
    d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(s"$out/snap_b")
    s.read.option("mergeSchema", "true")
      .parquet(s"$out/snap_a", s"$out/snap_b")
  }
  private val q221Sql =
    """SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 1""".stripMargin

  /** Deterministic solid-gray PNG via the JDK encoder (driver-side; a few
    * hundred bytes per fixture). */
  private def pngBytes(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic animated GIF via the JDK encoder: frame f is solid
    * gray `grays(f)`, size w×h. An explicit 256-gray IndexColorModel
    * palette makes the round-trip exact (GIF stores the palette
    * verbatim; no quantization can move the values). Geometry matters:
    * the JDK codec zeroes the last row of certain small wide images
    * (5×4, 7×3, 16×2, ...) — the sizes used by q71 round-trip
    * losslessly (verified empirically in MultimodalSpec). */
  private def gifBytes(w: Int, h: Int, grays: Seq[Int]): Array[Byte] = {
    val ramp = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    grays.foreach { g =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, g); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Deterministic constant-amplitude 16-bit mono PCM WAV at 8 kHz. */
  private def wavBytes(n: Int, amp: Short): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val raw = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      raw(2 * i) = (amp & 0xff).toByte
      raw(2 * i + 1) = ((amp >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Piecewise-constant WAV for the q163 fingerprint fixtures: 65 equal
    * windows of `spw` samples, window w at amplitude `amps(w)`. */
  private def wavPattern(amps: Seq[Short], spw: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val n = amps.length * spw
    val raw = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val amp = amps(i / spw)
      raw(2 * i) = (amp & 0xff).toByte
      raw(2 * i + 1) = ((amp >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // -- q163: audio energy fingerprint (Multimodal.audioFingerprint) —
  // the clip-dedup primitive over the REAL WAV decode path, q162's
  // audio twin. Piecewise-constant fixtures (65 windows, one amplitude
  // each) make every delta bit hand-derivable: a rising envelope sets
  // no bits, a falling one sets all 64, alternating loud/soft gives
  // 0xAA per byte, and softening ONE window flips exactly one bit. A
  // 30-sample clip is below the 65-window floor -> null, alongside the
  // unreadable/null log-and-null contract. Oracle: ground-truth VALUES
  // (the q67/q162 recipe). --
  private val q163: Q = (s, dir) => {
    import s.implicits._
    def alt(w: Int): Short = if (w % 2 == 0) 500 else 100
    val fixtures: Seq[(Long, Array[Byte])] = Seq(
      (1L, wavPattern((0 until 65).map(w => (100 + 10 * w).toShort), 8)),
      (2L, wavPattern((0 until 65).map(w => (800 - 10 * w).toShort), 8)),
      (3L, wavPattern((0 until 65).map(w => alt(w)), 8)),
      (4L, wavPattern((0 until 65).map(w => if (w == 0) 50.toShort else alt(w)), 8)),
      (5L, wavBytes(n = 30, amp = 100)), // < 65 samples: no envelope
      (6L, Array[Byte](1, 2, 3)),
      (7L, null.asInstanceOf[Array[Byte]]))
    val df = fixtures.toDF("clip_id", "payload").repartition(3)
    Multimodal.audioFingerprint(df, "payload")
      .select($"clip_id", $"audio_fp")
  }
  private val q163Sql =
    """SELECT CAST(clip_id AS BIGINT) AS clip_id,
      |  CAST(fp AS BIGINT) AS audio_fp
      |FROM (VALUES
      |  (1, 0), (2, -1),
      |  (3, -6148914691236517206), (4, 3074457345618258602),
      |  (5, NULL), (6, NULL), (7, NULL)
      |) AS t(clip_id, fp)""".stripMargin

  /** Per-pixel-patterned animated GIF (grayscale identity palette —
    * values round-trip exactly) for the q164 frame-hash fixtures. */
  private def gifPattern(w: Int, h: Int,
                         frames: Seq[(Int, Int) => Int]): Array[Byte] = {
    val ramp = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, f(x, y) & 0xff); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  // -- q164: per-frame video perceptual hashes (Multimodal.frameDHash)
  // — the modality triad's video member (q162 stills, q163 audio): an
  // animated GIF whose four 9×8 frames carry the SAME hand-derivable
  // patterns as q162 (ramp 0, reverse -1, alternating 0xAA rows, one
  // flipped pixel = one bit), decoded frame-by-frame through the real
  // multi-image ImageIO reader. Unreadable/null payloads keep one
  // null row each. Oracle: ground-truth VALUES. --
  private val q164: Q = (s, dir) => {
    import s.implicits._
    val alt: (Int, Int) => Int = (x, _) => if (x % 2 == 0) 200 else 50
    val clip = gifPattern(9, 8, Seq(
      (x, _) => 10 + 20 * x,
      (x, _) => 200 - 20 * x,
      alt,
      (x, y) => if (x == 0 && y == 0) 40 else alt(x, y)))
    val fixtures: Seq[(Long, Array[Byte])] = Seq(
      (1L, clip), (2L, Array[Byte](3, 1, 4)), (3L, null.asInstanceOf[Array[Byte]]))
    val df = fixtures.toDF("vid_id", "payload").repartition(2)
    Multimodal.frameDHash(df, "payload")
      .select($"vid_id", $"frame_count".cast("long").as("frame_count"),
        $"frame_idx".cast("long").as("frame_idx"), $"frame_dhash")
  }
  private val q164Sql =
    """SELECT CAST(vid_id AS BIGINT) AS vid_id,
      |  CAST(n AS BIGINT) AS frame_count, CAST(i AS BIGINT) AS frame_idx,
      |  CAST(dh AS BIGINT) AS frame_dhash
      |FROM (VALUES
      |  (1, 4, 0, 0), (1, 4, 1, -1),
      |  (1, 4, 2, -6148914691236517206), (1, 4, 3, 3074457345618258602),
      |  (2, NULL, NULL, NULL), (3, NULL, NULL, NULL)
      |) AS t(vid_id, n, i, dh)""".stripMargin

  // -- q67: REAL image decode (javax.imageio, no stub) --
  // Solid-gray PNGs of known geometry are encoded driver-side, decoded
  // distributed through the mapPartitions codec seam, and the recovered
  // width/height/channels/mean are hash-checked against the ground truth
  // the fixtures were built from. Unreadable and null payloads exercise
  // the log-and-null contract.
  private val q67: Q = (s, dir) => {
    import s.implicits._
    val fixtures: Seq[(Long, Array[Byte])] =
      (1 to 8).map { i =>
        (i.toLong, pngBytes(w = 4 + i, h = 3 + i, gray = (i * 37) % 256))
      } ++ Seq(
        (9L, Array[Byte](1, 2, 3)),              // unreadable -> null features
        (10L, null.asInstanceOf[Array[Byte]]))   // null payload -> null features
    val df = fixtures.toDF("img_id", "payload").repartition(4)
    Multimodal.imageFeatures(df, "payload", Multimodal.JdkImageDecoder)
      .select($"img_id",
        $"img_width".cast("long").as("img_width"),
        $"img_height".cast("long").as("img_height"),
        $"img_channels".cast("long").as("img_channels"),
        round($"img_mean", 6).as("img_mean"))
  }
  private val q67Sql =
    """SELECT CAST(img_id AS BIGINT) AS img_id, CAST(w AS BIGINT) AS img_width,
      |  CAST(h AS BIGINT) AS img_height, CAST(c AS BIGINT) AS img_channels,
      |  CAST(m AS DOUBLE) AS img_mean
      |FROM (VALUES
      |  (1, 5, 4, 3, 37.0), (2, 6, 5, 3, 74.0), (3, 7, 6, 3, 111.0),
      |  (4, 8, 7, 3, 148.0), (5, 9, 8, 3, 185.0), (6, 10, 9, 3, 222.0),
      |  (7, 11, 10, 3, 3.0), (8, 12, 11, 3, 40.0),
      |  (9, NULL, NULL, NULL, NULL), (10, NULL, NULL, NULL, NULL)
      |) AS t(img_id, w, h, c, m)""".stripMargin

  // -- q68: REAL audio decode (javax.sound.sampled WAV, no stub) --
  // Constant-amplitude PCM fixtures: mean |sample| recovers the amplitude
  // exactly, frame count and duration recover the sample count. Durations
  // are multiples of 0.5 s so the doubles are exact on both engines.
  private val q68: Q = (s, dir) => {
    import s.implicits._
    val fixtures: Seq[(Long, Array[Byte])] =
      (1 to 5).map { i => (i.toLong, wavBytes(n = 4000 * i, amp = (500 * i).toShort)) } ++
        Seq((6L, Array[Byte](9, 9, 9)), (7L, null.asInstanceOf[Array[Byte]]))
    val df = fixtures.toDF("clip_id", "payload").repartition(3)
    Multimodal.audioFeatures(df, "payload")
      .select($"clip_id",
        $"audio_sample_rate",
        $"audio_channels".cast("long").as("audio_channels"),
        $"audio_frames",
        $"audio_duration_sec",
        $"audio_mean_abs")
  }
  private val q68Sql =
    """SELECT CAST(clip_id AS BIGINT) AS clip_id,
      |  CAST(rate AS DOUBLE) AS audio_sample_rate,
      |  CAST(ch AS BIGINT) AS audio_channels,
      |  CAST(frames AS BIGINT) AS audio_frames,
      |  CAST(dur AS DOUBLE) AS audio_duration_sec,
      |  CAST(amp AS DOUBLE) AS audio_mean_abs
      |FROM (VALUES
      |  (1, 8000.0, 1, 4000, 0.5, 500.0), (2, 8000.0, 1, 8000, 1.0, 1000.0),
      |  (3, 8000.0, 1, 12000, 1.5, 1500.0), (4, 8000.0, 1, 16000, 2.0, 2000.0),
      |  (5, 8000.0, 1, 20000, 2.5, 2500.0),
      |  (6, NULL, NULL, NULL, NULL, NULL), (7, NULL, NULL, NULL, NULL, NULL)
      |) AS t(clip_id, rate, ch, frames, dur, amp)""".stripMargin

  // -- q71: video-style frame sampling (REAL multi-frame decode: animated
  // GIF through ImageIO's multi-image reader API). Every 2nd frame of
  // each container explodes to its own row; gray values round-trip the
  // indexed palette exactly, so the oracle is ground-truth VALUES.
  // Unreadable and null payloads keep one null-feature row each.
  private val q71: Q = (s, dir) => {
    import s.implicits._
    val fixtures: Seq[(Long, Array[Byte])] = Seq(
      (1L, gifBytes(w = 12, h = 10, grays = Seq(10, 60, 110, 160, 210))),
      (2L, gifBytes(w = 9, h = 9, grays = Seq(5, 45, 85, 125))),
      (3L, gifBytes(w = 6, h = 6, grays = Seq(200))),
      (4L, Array[Byte](7, 7, 7)),               // unreadable -> null features
      (5L, null.asInstanceOf[Array[Byte]]))     // null payload -> null features
    val df = fixtures.toDF("vid_id", "payload").repartition(3)
    Multimodal.frameFeatures(df, "payload", stride = 2)
      .select($"vid_id",
        $"frame_count".cast("long").as("frame_count"),
        $"frame_idx".cast("long").as("frame_idx"),
        $"frame_width".cast("long").as("frame_width"),
        $"frame_height".cast("long").as("frame_height"),
        $"frame_mean")
  }
  private val q71Sql =
    """SELECT CAST(vid_id AS BIGINT) AS vid_id, CAST(n AS BIGINT) AS frame_count,
      |  CAST(i AS BIGINT) AS frame_idx, CAST(w AS BIGINT) AS frame_width,
      |  CAST(h AS BIGINT) AS frame_height, CAST(m AS DOUBLE) AS frame_mean
      |FROM (VALUES
      |  (1, 5, 0, 12, 10, 10.0), (1, 5, 2, 12, 10, 110.0), (1, 5, 4, 12, 10, 210.0),
      |  (2, 4, 0, 9, 9, 5.0), (2, 4, 2, 9, 9, 85.0),
      |  (3, 1, 0, 6, 6, 200.0),
      |  (4, NULL, NULL, NULL, NULL, NULL), (5, NULL, NULL, NULL, NULL, NULL)
      |) AS t(vid_id, n, i, w, h, m)""".stripMargin

  /** Per-pixel-controllable grayscale PNG for the q162 dHash fixtures. */
  private def pngPattern(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // -- q162: image perceptual hash (Multimodal.imageDHash) — the image
  // dedup primitive over the REAL JDK decode path. 9×8 fixtures make
  // the sampling grid the identity, so every hash is hand-derivable
  // from the pixel pattern: a rising ramp sets no bits (0), a falling
  // ramp sets all 64 (-1), alternating columns give 0xAA per row, and
  // flipping ONE pixel flips exactly one bit (the near-dup property the
  // hash exists for). Unreadable/null payloads keep the log-and-null
  // contract. Oracle: the ground-truth VALUES the fixtures were built
  // from (the q67 recipe). --
  private val q162: Q = (s, dir) => {
    import s.implicits._
    val alt: (Int, Int) => Int = (x, _) => if (x % 2 == 0) 200 else 50
    val fixtures: Seq[(Long, Array[Byte])] = Seq(
      (1L, pngPattern(9, 8)((x, _) => 10 + 20 * x)),
      (2L, pngPattern(9, 8)((x, _) => 200 - 20 * x)),
      (3L, pngPattern(9, 8)(alt)),
      (4L, pngPattern(9, 8)((x, y) => if (x == 0 && y == 0) 40 else alt(x, y))),
      (5L, Array[Byte](7, 7)),
      (6L, null.asInstanceOf[Array[Byte]]))
    val df = fixtures.toDF("img_id", "payload").repartition(3)
    Multimodal.imageDHash(df, "payload")
      .select($"img_id", $"img_dhash")
  }
  private val q162Sql =
    """SELECT CAST(img_id AS BIGINT) AS img_id,
      |  CAST(dh AS BIGINT) AS img_dhash
      |FROM (VALUES
      |  (1, 0), (2, -1),
      |  (3, -6148914691236517206), (4, 3074457345618258602),
      |  (5, NULL), (6, NULL)
      |) AS t(img_id, dh)""".stripMargin

  // -- q236: snapshot log TIME TRAVEL (sinks.Snapshots) — the minimal
  // lakehouse commit protocol over plain parquet: v1 overwrites in the
  // non-German corpus, v2 appends the German docs; both versions then
  // read back CONCURRENTLY-safely from their immutable file lists and
  // aggregate side by side. The oracle re-derives both versions from
  // the raw table, so a hash match proves the log pins exactly the
  // right file set per version — a leaked v2 file into the v1 read (or
  // vice versa) breaks the count. Rebuilt from scratch each run (the
  // q210 standalone discipline). Exact-int cells. --
  private val q236: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snap")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.where($"lang" =!= "de"), out)
    graft.sinks.Snapshots.writeAppend(docs.where($"lang" === "de"), out)
    def agg(df: DataFrame, v: Int) = df.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .withColumn("version", lit(v))
    agg(graft.sinks.Snapshots.read(s, out, Some(1)), 1)
      .unionByName(agg(graft.sinks.Snapshots.read(s, out), 2))
  }
  private val q236Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, 1 AS version
      |FROM documents WHERE lang <> 'de' GROUP BY lang
      |UNION ALL
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, 2 AS version
      |FROM documents GROUP BY lang""".stripMargin

  // -- q237: incremental snapshot scan (Snapshots.addedSince) — the
  // nightly-job shape at 100 TB: remember the last processed version,
  // read ONLY the files committed since (immutable files ⇒ new rows
  // live only in new files; never rescan the table). The delta here is
  // the German append from q236's layout, rebuilt standalone; the
  // oracle sees the raw table and re-derives the same delta by
  // predicate, so the hash pins that addedSince returns exactly the
  // appended rows — no old file re-read, none missed. --
  private val q237: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapinc")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.where($"lang" =!= "de"), out)
    graft.sinks.Snapshots.writeAppend(docs.where($"lang" === "de"), out)
    graft.sinks.Snapshots.addedSince(s, out, 1)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_new"), sum($"n_chars").as("new_chars"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
  }
  private val q237Sql =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_new,
      |  CAST(sum(n_chars) AS BIGINT) AS new_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents WHERE lang = 'de' GROUP BY source""".stripMargin

  // -- q239: copy-on-write DELETE (Snapshots.deleteWhere) — the
  // right-to-be-forgotten pass on the versioned corpus: only files
  // CONTAINING German docs rewrite (file-granularity pinned in
  // SnapshotsSpec; here the fragments are id-partitioned so every file
  // holds every language and all rewrite — the honest worst case), one
  // commit flips the table. Oracle = the raw table minus the predicate;
  // a row lost from an untouched file or surviving a rewrite breaks
  // the hash. --
  private val q239: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapdel")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.repartition(8, $"doc_id"), out)
    graft.sinks.Snapshots.deleteWhere(s, out, col("lang") === "de")
    graft.sinks.Snapshots.read(s, out)
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }
  private val q239Sql =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents WHERE lang <> 'de'""".stripMargin

  // -- q240: copy-on-write UPSERT (Snapshots.upsert) — the re-crawl
  // merge: every German doc re-arrives with one more character of
  // text; files holding a matched key rewrite without the stale copy,
  // the fresh rows land beside, one commit. Row count is unchanged and
  // exactly the de rows carry the +1 — the oracle replays that as a
  // CASE over the raw table, so both halves (stale removal AND fresh
  // insert) live in the hash. --
  private val q240: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapup")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.repartition(8, $"doc_id"), out)
    val recrawl = docs.where($"lang" === "de")
      .withColumn("text", concat($"text", lit("!")))
      .withColumn("n_chars", $"n_chars" + 1)
    graft.sinks.Snapshots.upsert(recrawl, out, "doc_id")
    graft.sinks.Snapshots.read(s, out)
      .select($"doc_id", $"lang", $"n_chars")
  }
  private val q240Sql =
    """SELECT doc_id, lang,
      |  CASE WHEN lang = 'de' THEN n_chars + 1 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin

  // -- q241: CHANGE DATA FEED (Snapshots.changes) — the sync feed a
  // downstream index/card/replica consumes instead of rescanning: v1
  // commits the corpus, v2 upserts a German re-crawl (+1 char), v3
  // copy-on-write-deletes French, v4 compacts. changes(since=1) must
  // be EXACTLY delete(old de) + insert(new de) at version 2 and
  // delete(fr) at version 3 — unchanged rows rewritten by the CoW
  // passes cancel in the exceptAll algebra, and the compact commit
  // contributes NOTHING (layout ops are logical no-ops; its absence
  // from the feed is pinned by the hash). --
  private val q241: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapcdc")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.repartition(8, $"doc_id"), out)
    val recrawl = docs.where($"lang" === "de")
      .withColumn("text", concat($"text", lit("!")))
      .withColumn("n_chars", $"n_chars" + 1)
    graft.sinks.Snapshots.upsert(recrawl, out, "doc_id")
    graft.sinks.Snapshots.deleteWhere(s, out, col("lang") === "fr")
    graft.sinks.Snapshots.compact(s, out, 512L * 1024 * 1024)
    graft.sinks.Snapshots.changes(s, out, sinceVersion = 1)
      .select($"doc_id", $"lang", $"n_chars",
        $"_change_type", $"_commit_version")
  }
  private val q241Sql =
    """SELECT doc_id, lang, n_chars, 'delete' AS _change_type,
      |  2 AS _commit_version
      |FROM documents WHERE lang = 'de'
      |UNION ALL
      |SELECT doc_id, lang, n_chars + 1, 'insert', 2
      |FROM documents WHERE lang = 'de'
      |UNION ALL
      |SELECT doc_id, lang, n_chars, 'delete', 3
      |FROM documents WHERE lang = 'fr'""".stripMargin

  // -- q242: CONCURRENT APPENDS under the r16 commit protocol — two
  // writers land their deltas on racing threads; the rebase loop means
  // the final version must contain BOTH, whatever the interleaving
  // (the lost-update hole r15's verdict named, now oracle-pinned: a
  // dropped delta breaks the per-language counts). The base overwrite
  // holds the non-de/fr corpus so each appender's files are disjoint
  // from the base and from each other. --
  private val q242: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapconc")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(
      docs.where($"lang" =!= "de" && $"lang" =!= "fr"), out)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val writers = Seq("de", "fr").map { l =>
      val delta = docs.where($"lang" === l)
      new Thread(() => {
        try { barrier.await(); graft.sinks.Snapshots.writeAppend(delta, out) }
        catch { case t: Throwable => errs.add(t) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join(300000))
    if (!errs.isEmpty) throw new IllegalStateException(errs.toString)
    graft.sinks.Snapshots.read(s, out).groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
  }
  private val q242Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang""".stripMargin

  // -- q243: STREAMING change-data-feed (format graft-cdc) — the q241
  // table history consumed through the streaming source instead of the
  // batch call: AvailableNow drains the log in metered micro-batches
  // (two versions per trigger, so admission control is in the executed
  // path) into a parquet sink, and the collected feed must equal the
  // batch oracle exactly — batch==stream is the family's differential
  // discipline, here under the DuckDB hash. --
  private val q243: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapcdcs")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.repartition(8, $"doc_id"), out)
    val recrawl = docs.where($"lang" === "de")
      .withColumn("text", concat($"text", lit("!")))
      .withColumn("n_chars", $"n_chars" + 1)
    graft.sinks.Snapshots.upsert(recrawl, out, "doc_id")
    graft.sinks.Snapshots.deleteWhere(s, out, col("lang") === "fr")
    graft.sinks.Snapshots.compact(s, out, 512L * 1024 * 1024)
    val sink = Tables.scratch(s, dir, "cdc_sink")
    val q = graft.sinks.Snapshots.readChangesStream(s, out,
        startingVersion = 1, maxVersionsPerTrigger = 2)
      .writeStream.format("parquet")
      .option("path", sink)
      .option("checkpointLocation", Tables.scratch(s, dir, "cdc_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(600000)
    s.read.parquet(sink)
      .select($"doc_id", $"lang", $"n_chars",
        $"_change_type", $"_commit_version")
  }
  private val q243Sql = q241Sql

  // -- q244: schema EVOLUTION on the versioned table — v1 commits a
  // narrow projection, v2 appends the same shape WIDENED by lang; the
  // commit-time schema gate admits the widening (a type conflict would
  // have failed at write), logs the merged schema, and the latest read
  // plans from the LOG (no footer-merge pass): pre-widening rows
  // NULL-fill the late column. The oracle replays that as a CASE. --
  private val q244: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapevo")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(
      docs.where($"lang" =!= "de").select($"doc_id", $"source", $"n_chars"), out)
    graft.sinks.Snapshots.writeAppend(
      docs.where($"lang" === "de")
        .select($"doc_id", $"source", $"n_chars", $"lang"), out)
    graft.sinks.Snapshots.read(s, out)
  }
  private val q244Sql =
    """SELECT doc_id, source, n_chars,
      |  CASE WHEN lang = 'de' THEN lang END AS lang
      |FROM documents""".stripMargin

  // -- q245: CLUSTERED upsert — the scale-safe alternative the q240
  // worst case names (SURVEY §6.1): after OPTIMIZE ZORDER on the
  // upsert key, a contiguous-key update batch touches only the files
  // whose key range it hits, so the copy-on-write rewrite is BOUNDED
  // instead of corpus-wide. Values are oracle-pinned here; the
  // bounded-rewrite exponent is measured in the §6.1 TimeQ row. --
  private val q245: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapclup")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.repartition(8, $"doc_id"), out)
    graft.sinks.Snapshots.optimizeZorderN(s, out, Seq("doc_id"), 256L * 1024)
    val updates = docs.where($"doc_id" < 100)
      .withColumn("n_chars", $"n_chars" + 1)
    graft.sinks.Snapshots.upsert(updates, out, "doc_id")
    graft.sinks.Snapshots.read(s, out)
      .select($"doc_id", $"lang", $"n_chars")
  }
  private val q245Sql =
    """SELECT doc_id, lang,
      |  CASE WHEN doc_id < 100 THEN n_chars + 1 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin

  // -- q246: table-to-table REPLICATION — the CDC family closed
  // end-to-end: the q243 history (upsert de, delete fr, compact) is
  // consumed through the graft-cdc stream in MULTI-COMMIT micro-batches
  // (2 versions/trigger) and applied to a replica table with
  // Snapshots.applyChanges (net-effect per key: last version wins,
  // delete-without-insert removes, insert upserts). The replica's final
  // state must equal the source's latest — which the oracle re-derives
  // from the raw table, so a mis-applied delete, a lost upsert, or a
  // leaked compact all break the hash. --
  private val q246: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snaprepl_src")
    val rep = Tables.scratch(s, dir, "snaprepl_rep")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.repartition(8, $"doc_id"), out)
    val recrawl = docs.where($"lang" === "de")
      .withColumn("text", concat($"text", lit("!")))
      .withColumn("n_chars", $"n_chars" + 1)
    graft.sinks.Snapshots.upsert(recrawl, out, "doc_id")
    graft.sinks.Snapshots.deleteWhere(s, out, col("lang") === "fr")
    graft.sinks.Snapshots.compact(s, out, 512L * 1024 * 1024)
    // the graft-snapshot keyCol sink, not a raw foreachBatch: the sink
    // persists each micro-batch before applyChanges' several actions
    // (net-effect join, touched-file scan, landing), so the trigger's
    // incremental CDC plan executes once per batch, not once per action
    val q = graft.sinks.Snapshots.readChangesStream(s, out,
        maxVersionsPerTrigger = 2)
      .writeStream.format("graft-snapshot")
      .option("path", rep).option("keyCol", "doc_id")
      .option("checkpointLocation", Tables.scratch(s, dir, "repl_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(600000)
    graft.sinks.Snapshots.read(s, rep)
      .select($"doc_id", $"lang", $"n_chars")
  }
  private val q246Sql =
    """SELECT doc_id, lang,
      |  CASE WHEN lang = 'de' THEN n_chars + 1 ELSE n_chars END AS n_chars
      |FROM documents WHERE lang <> 'fr'""".stripMargin

  // -- q247: TTL RETENTION delete (Snapshots.deleteRange) — the
  // horizon pass every event estate schedules: the table lands
  // range-clustered on event_id (the monotone-ingest layout), the
  // horizon delete prunes candidate files through footer stats (only
  // files whose id bounds overlap [0, 4999] are even scanned — at 100
  // TB the point is the untouched tail never reads), rows at-or-below
  // the horizon rewrite away, one commit. Oracle = the raw table past
  // the horizon; a row leaked from a pruned file or lost from a kept
  // one breaks the hash. --
  private val q247: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapttl")
    val events = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    graft.sinks.Snapshots.writeOverwrite(
      events.repartitionByRange(8, $"event_id"), out)
    graft.sinks.Snapshots.deleteRange(s, out, "event_id", 0.0, 4999.0)
    graft.sinks.Snapshots.read(s, out)
  }
  private val q247Sql =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_id >= 5000""".stripMargin

  // -- q248: TAKEDOWN by key FRAME (Snapshots.deleteKeys) — the bulk
  // right-to-be-forgotten shape: the key list (every French doc's id)
  // is a FRAME, not an isin literal — it semi-joins against the table
  // with manifest-pruned candidates, so a million-id takedown neither
  // collects to the driver nor scans files outside the keys' range.
  // Oracle = the raw table minus the keyed rows. --
  private val q248: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snaptkd")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.repartition(8, $"doc_id"), out)
    val takedown = docs.where($"lang" === "fr").select($"doc_id")
    graft.sinks.Snapshots.deleteKeys(s, out, "doc_id", takedown)
    graft.sinks.Snapshots.read(s, out)
      .select($"doc_id", $"source", $"n_chars")
  }
  private val q248Sql =
    """SELECT doc_id, source, n_chars
      |FROM documents WHERE lang <> 'fr'""".stripMargin

  // -- q249: clustered upsert on a STRING key — q245's scale shape
  // reaching the most common real key (doc ids/UUIDs/URLs): the table
  // lands range-clustered on a derived string key, the update batch's
  // key range bounds the touched-file search through LOG-RESIDENT
  // string bounds (r17: zero footer reads at op time), and only the
  // hit files rewrite. Values oracle-pinned as a CASE replay; the
  // bounded-rewrite behavior is pinned in SnapshotStatsSpec and
  // measured in the SnapBench clusupstr row. --
  private val q249: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapclupstr")
    val docs = Tables.load(s, dir, "documents")
      .withColumn("doc_key",
        concat(lit("doc-"), lpad($"doc_id".cast("string"), 8, "0")))
    graft.sinks.Snapshots.writeOverwrite(
      docs.repartitionByRange(8, $"doc_key"), out)
    val updates = docs.where($"doc_id" < 100)
      .withColumn("n_chars", $"n_chars" + 1)
    graft.sinks.Snapshots.upsert(updates, out, "doc_key")
    graft.sinks.Snapshots.read(s, out)
      .select($"doc_key", $"lang", $"n_chars")
  }
  private val q249Sql =
    """SELECT concat('doc-', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS doc_key,
      |  lang,
      |  CASE WHEN doc_id < 100 THEN n_chars + 1 ELSE n_chars END AS n_chars
      |FROM documents""".stripMargin

  // -- q250: SQL over a snapshot table (graft.sql.SnapshotCatalog) —
  // the stock-Spark door the storage layer gained in r17: the query
  // path is PURE spark.sql against a DSv2 catalog; plan = logged file
  // list + logged schema through the stock parquet scan (pushdown,
  // pruning, vectorized). Oracle re-derives the aggregate from the
  // raw table, so the hash pins that the catalog resolves exactly the
  // committed snapshot. --
  private val q250: Q = (s, dir) => {
    val out = Tables.scratch(s, dir, "sqlcat")
    s.conf.set("spark.sql.catalog.graft", "graft.sql.SnapshotCatalog")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs, out)
    s.sql(
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM graft.`$out`
         |WHERE n_chars > 100
         |GROUP BY lang""".stripMargin)
  }
  private val q250Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE n_chars > 100 GROUP BY lang""".stripMargin

  // -- q251: SQL TIME TRAVEL (VERSION AS OF) — q236's two-version
  // read expressed with zero Scala in the query path: v1 commits the
  // non-German corpus, v2 appends German, and one SQL statement
  // unions `VERSION AS OF 1` with the latest. The oracle re-derives
  // both versions from the raw table, so a leaked v2 file into the
  // pinned v1 read breaks the hash — the catalog's version pinning
  // under the same proof as the Scala API's. --
  private val q251: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "sqltt")
    s.conf.set("spark.sql.catalog.graft", "graft.sql.SnapshotCatalog")
    val docs = Tables.load(s, dir, "documents")
    graft.sinks.Snapshots.writeOverwrite(docs.where($"lang" =!= "de"), out)
    graft.sinks.Snapshots.writeAppend(docs.where($"lang" === "de"), out)
    s.sql(
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, 1 AS version
         |FROM graft.`$out` VERSION AS OF 1 GROUP BY lang
         |UNION ALL
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, 2 AS version
         |FROM graft.`$out` GROUP BY lang""".stripMargin)
  }
  private val q251Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, 1 AS version
      |FROM documents WHERE lang <> 'de' GROUP BY lang
      |UNION ALL
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, 2 AS version
      |FROM documents GROUP BY lang""".stripMargin

  // -- q252: DATA SKIPPING under the oracle hash — a range aggregate
  // over a key-clustered snapshot table: the r17 listFiles bound
  // pruning drops every file whose logged bounds miss [2000, 3999]
  // (the scan itself re-applies the predicate — skipping is a superset
  // guarantee), and the oracle re-derives the aggregate from the raw
  // table, so a wrongly-skipped file (lost rows) or a leaked one
  // breaks the hash. The isolated skip cost is the SnapBench skipscan
  // row; the q245-family clustering makes the skip selective. --
  private val q252: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "snapskip")
    val events = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    graft.sinks.Snapshots.writeOverwrite(
      events.repartitionByRange(8, $"event_id"), out)
    graft.sinks.Snapshots.read(s, out)
      .where($"event_id" >= 2000 && $"event_id" <= 3999)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"event_id").as("sum_id"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  }
  private val q252Sql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS sum_id,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events WHERE event_id BETWEEN 2000 AND 3999
      |GROUP BY event_type""".stripMargin

  // -- q253: the SQL WRITE path (r18) — CTAS creates the table
  // (create + append commits), INSERT INTO appends the rest, and the
  // read-back goes through the same catalog scan: zero Scala in the
  // WRITE path now too. The oracle re-derives the final state from
  // the raw table, so a lost insert, a double-applied CTAS, or a
  // schema drift between the SQL and API writers breaks the hash. --
  private val q253: Q = (s, dir) => {
    val out = Tables.scratch(s, dir, "sqlins")
    s.conf.set("spark.sql.catalog.graft", "graft.sql.SnapshotCatalog")
    Tables.load(s, dir, "documents").createOrReplaceTempView("q253_docs")
    s.sql(s"""CREATE TABLE graft.`$out` AS
             |SELECT doc_id, lang, n_chars FROM q253_docs
             |WHERE lang <> 'de'""".stripMargin)
    s.sql(s"""INSERT INTO graft.`$out`
             |SELECT doc_id, lang, n_chars FROM q253_docs
             |WHERE lang = 'de'""".stripMargin)
    s.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$out`")
  }
  private val q253Sql =
    "SELECT doc_id, lang, n_chars FROM documents"

  // -- q254: SQL `DELETE FROM ... WHERE` — the q247 TTL/retention
  // shape with zero Scala in the write path: the pushed range
  // predicate translates back to the copy-on-write deleteWhere (one
  // versioned commit; files outside the range splice through by
  // name). Oracle = the raw table past the horizon; a row leaked from
  // a rewritten file or lost from an untouched one breaks the hash. --
  private val q254: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "sqldel")
    s.conf.set("spark.sql.catalog.graft", "graft.sql.SnapshotCatalog")
    val events = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    graft.sinks.Snapshots.writeOverwrite(
      events.repartitionByRange(8, $"event_id"), out)
    s.sql(s"DELETE FROM graft.`$out` WHERE event_id <= 499")
    s.sql(s"SELECT event_id, user_id, event_type, value FROM graft.`$out`")
  }
  private val q254Sql =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_id > 499""".stripMargin

  // -- q255: COLUMN RENAME as a metadata commit (r18 column mapping)
  // — rename never rewrites a file: the new logical name maps to the
  // files' physical column through the logged schema, and reads
  // project physical→logical. The history proves the zero-rewrite
  // claim structurally (the q-result would still hash right after a
  // rewrite, so the query ALSO appends post-rename rows under the new
  // name — mixed-era files, one logical column). Oracle = the raw
  // table under the renamed projection. --
  private val q255: Q = (s, dir) => {
    import s.implicits._
    val out = Tables.scratch(s, dir, "rename")
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars")
    graft.sinks.Snapshots.writeOverwrite(
      docs.where($"lang" =!= "de").repartition(4, $"doc_id"), out)
    graft.sinks.Snapshots.renameColumn(s, out, "n_chars", "char_count")
    // post-rename append uses the NEW logical name; its files store
    // the physical column, agreeing with the pre-rename files
    graft.sinks.Snapshots.writeAppend(
      docs.where($"lang" === "de")
        .withColumnRenamed("n_chars", "char_count"), out)
    graft.sinks.Snapshots.read(s, out)
      .select($"doc_id", $"lang", $"char_count")
  }
  private val q255Sql =
    "SELECT doc_id, lang, n_chars AS char_count FROM documents"

  val queries: Map[String, Q] = Map(
    "q253_sql_insert" -> q253,
    "q254_sql_delete" -> q254,
    "q255_rename_column" -> q255,
    "q249_string_key_clustered_upsert" -> q249,
    "q250_sql_snapshot_read" -> q250,
    "q251_sql_time_travel" -> q251,
    "q252_data_skipping_scan" -> q252,
    "q242_concurrent_appends" -> q242,
    "q246_cdc_replication" -> q246,
    "q247_ttl_delete" -> q247,
    "q248_takedown_keys" -> q248,
    "q243_cdc_stream" -> q243,
    "q244_snapshot_schema_evolution" -> q244,
    "q245_clustered_upsert" -> q245,
    "q241_snapshot_changes" -> q241,
    "q236_snapshot_time_travel" -> q236,
    "q237_incremental_scan" -> q237,
    "q239_snapshot_delete" -> q239,
    "q240_snapshot_upsert" -> q240,
    "q162_image_dhash" -> q162,
    "q163_audio_fp" -> q163,
    "q164_frame_dhash" -> q164,
    "q40_lenient_long" -> q40,
    "q41_lenient_timestamp" -> q41,
    "q42_first_of_list" -> q42,
    "q43_flatten" -> q43,
    "q44_es_mapping_coerce" -> q44,
    "q45_binary_meta" -> q45,
    "q46_multimodal_features" -> q46,
    "q47_from_json_schema" -> q47,
    "q48_dsv2_jsonl_scan" -> q48,
    "q210_warc_roundtrip" -> q210,
    "q212_warc_rehydrate" -> q212,
    "q225_ccindex_fetch" -> q225,
    "q49_geo_distance" -> q49,
    "q54_csv_roundtrip" -> q54,
    "q55_ndjson_roundtrip" -> q55,
    "q218_orc_roundtrip" -> q218,
    "q221_merge_schema" -> q221,
    "q67_imageio_decode" -> q67,
    "q68_wav_decode" -> q68,
    "q71_gif_frame_sample" -> q71,
  )

  val oracle: Map[String, String] = Map(
    "q253_sql_insert" -> q253Sql,
    "q254_sql_delete" -> q254Sql,
    "q255_rename_column" -> q255Sql,
    "q249_string_key_clustered_upsert" -> q249Sql,
    "q250_sql_snapshot_read" -> q250Sql,
    "q251_sql_time_travel" -> q251Sql,
    "q252_data_skipping_scan" -> q252Sql,
    "q241_snapshot_changes" -> q241Sql,
    "q236_snapshot_time_travel" -> q236Sql,
    "q237_incremental_scan" -> q237Sql,
    "q239_snapshot_delete" -> q239Sql,
    "q240_snapshot_upsert" -> q240Sql,
    "q242_concurrent_appends" -> q242Sql,
    "q243_cdc_stream" -> q243Sql,
    "q244_snapshot_schema_evolution" -> q244Sql,
    "q245_clustered_upsert" -> q245Sql,
    "q246_cdc_replication" -> q246Sql,
    "q247_ttl_delete" -> q247Sql,
    "q248_takedown_keys" -> q248Sql,
    "q162_image_dhash" -> q162Sql,
    "q163_audio_fp" -> q163Sql,
    "q164_frame_dhash" -> q164Sql,
    "q40_lenient_long" -> q40Sql,
    "q41_lenient_timestamp" -> q41Sql,
    "q42_first_of_list" -> q42Sql,
    "q43_flatten" -> q43Sql,
    "q44_es_mapping_coerce" -> q44Sql,
    "q45_binary_meta" -> q45Sql,
    "q46_multimodal_features" -> q46Sql,
    "q47_from_json_schema" -> q47Sql,
    "q48_dsv2_jsonl_scan" -> q48Sql,
    "q210_warc_roundtrip" -> q210Sql,
    "q212_warc_rehydrate" -> q212Sql,
    "q225_ccindex_fetch" -> q225Sql,
    "q49_geo_distance" -> q49Sql,
    "q54_csv_roundtrip" -> q54Sql,
    "q55_ndjson_roundtrip" -> q55Sql,
    "q218_orc_roundtrip" -> q218Sql,
    "q221_merge_schema" -> q221Sql,
    "q67_imageio_decode" -> q67Sql,
    "q68_wav_decode" -> q68Sql,
    "q71_gif_frame_sample" -> q71Sql,
  )
}
