package graft.sources.es

import graft.SparkSpec

/** The streaming tail source against the live stub cluster: exactly-once
  * per seq value across live ingests, start_from resume semantics, and
  * plain-long offset serialization. */
class EsTailStreamSpec extends SparkSpec {

  import spark.implicits._

  private val mapping = """{"seq":{"type":"long"},"msg":{"type":"keyword"}}"""
  private def doc(seq: Int) = s"""{"seq":$seq,"msg":"m$seq"}"""

  test("tail stream reads each document exactly once across live ingests") {
    // both walks must send the (start, end] window, or every microbatch
    // re-reads the whole index
    for (mode <- Seq("scroll", "pit")) withClue(s"mode=$mode: ") {
      val stub = new StubEsServer(
        initialIndices = Map("logs" -> (1 to 5).map(doc)),
        mappings = Map("logs" -> mapping))
      try {
        val df = spark.readStream.format("graft-es")
          .option("es", stub.url).option("index", "logs")
          .option("tail_field", "seq")
          .option("size", 2) // several pages per microbatch
          .option("mode", mode)
          .load()
        val query = df.writeStream.format("memory").queryName(s"es_tail_$mode").start()
        try {
          def seqs = spark.table(s"es_tail_$mode").select($"seq").as[Long]
            .collect().toSeq.sorted
          query.processAllAvailable()
          assert(seqs == (1L to 5L), s"initial backfill, got $seqs")
          stub.addDocs("logs", Seq(doc(6), doc(7)))
          query.processAllAvailable()
          assert(seqs == (1L to 7L), s"live ingest appended exactly once, got $seqs")
          // idle trigger: no new max -> empty window -> no duplicates
          query.processAllAvailable()
          assert(seqs == (1L to 7L))
          // the coerced payload came through the same MapSource path
          assert(spark.table(s"es_tail_$mode").where($"seq" === 6)
            .select($"msg").as[String].head() == "m6")
        } finally query.stop()
      } finally stub.close()
    }
  }

  test("start_from resumes after the given watermark") {
    val stub = new StubEsServer(
      initialIndices = Map("logs" -> (1 to 5).map(doc)),
      mappings = Map("logs" -> mapping))
    try {
      val df = spark.readStream.format("graft-es")
        .option("es", stub.url).option("index", "logs")
        .option("tail_field", "seq")
        .option("start_from", 3)
        .load()
      val query = df.writeStream.format("memory").queryName("es_tail_from").start()
      try {
        query.processAllAvailable()
        val seqs = spark.table("es_tail_from").select($"seq").as[Long]
          .collect().toSeq.sorted
        assert(seqs == Seq(4L, 5L), s"window must be (3, max], got $seqs")
      } finally query.stop()
    } finally stub.close()
  }

  test("cluster -> tail stream -> prep pipeline -> sink, end to end") {
    // the complete modern form of the reference's job: continuous ingest
    // from the cluster, streaming dedup/quality/split, one plan
    val docMapping =
      """{"doc_id":{"type":"long"},"seq":{"type":"long"},
         |"text":{"type":"keyword"},"ingest_ts":{"type":"date"}}""".stripMargin
    def good(i: Int) = (0 until 30).map(j => s"w${i}_$j").mkString(" ")
    def d(seq: Int, id: Int, text: String) =
      s"""{"doc_id":$id,"seq":$seq,"text":"$text","ingest_ts":"2026-02-01T09:00:${"%02d".format(seq)}"}"""
    val stub = new StubEsServer(
      initialIndices = Map("docs" -> Seq(
        d(1, 101, good(1)), d(2, 102, good(2)), d(3, 103, "too short"))),
      mappings = Map("docs" -> docMapping))
    try {
      val stream = spark.readStream.format("graft-es")
        .option("es", stub.url).option("index", "docs")
        .option("tail_field", "seq")
        .load()
      val q = graft.streaming.DocPrep.prep(stream)
        .writeStream.format("memory").queryName("es_prep").start()
      try {
        q.processAllAvailable()
        def ids = spark.table("es_prep").select($"doc_id").as[Long]
          .collect().toSeq.sorted
        assert(ids == Seq(101L, 102L), s"quality filter must drop 103, got $ids")
        // live ingest: one re-delivered text (dedup) + one genuinely new doc
        stub.addDocs("docs", Seq(d(4, 104, good(2)), d(5, 105, good(5))))
        q.processAllAvailable()
        assert(ids == Seq(101L, 102L, 105L),
          s"re-delivered text must dedup, new doc must land, got $ids")
        val splits = spark.table("es_prep").select($"split").as[String].collect().toSet
        assert(splits.subsetOf(Set("train", "val", "test")))
      } finally q.stop()
    } finally stub.close()
  }

  test("fractional max-agg values keep their exact double watermark") {
    // truncating would withhold the newest fractional-valued document
    // forever; rounding up would skip docs arriving in the gap — the
    // offset stays in the field's own domain
    assert(EsApi.parseMaxAgg(
      """{"aggregations":{"m":{"value":1000.5}}}""") == Some(1000.5))
    assert(EsApi.parseMaxAgg(
      """{"aggregations":{"m":{"value":7.0}}}""") == Some(7.0))
    assert(EsApi.parseMaxAgg("""{"aggregations":{"m":{"value":null}}}""").isEmpty)
  }

  test("offsets round-trip through their JSON form exactly") {
    assert(EsTailOffset(1000.5).json() == "1000.5")
    val stream = new EsTailStream(
      org.apache.spark.sql.types.StructType(Nil),
      EsScanConfig.fromOptions(Map(
        "index" -> "x", "tail_field" -> "seq")),
      Array.empty)
    assert(stream.deserializeOffset("1000.5") == EsTailOffset(1000.5))
    assert(stream.deserializeOffset(EsTailOffset(42.0).json()) == EsTailOffset(42.0))
  }

  test("streaming read without tail_field fails with a clear message") {
    val stub = new StubEsServer(
      initialIndices = Map("logs" -> Seq(doc(1))),
      mappings = Map("logs" -> mapping))
    try {
      val df = spark.readStream.format("graft-es")
        .option("es", stub.url).option("index", "logs")
        .load()
      val e = intercept[Exception] {
        val q = df.writeStream.format("memory").queryName("es_tail_bad").start()
        try q.processAllAvailable() finally q.stop()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("tail_field")), s"got: ${messages(e)}")
    } finally stub.close()
  }
}
