package graft.operators

import graft.SparkSpec

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated centroid directions in 4-d
  private val centroids = Seq(
    (100L, Seq(1f, 0f, 0f, 0f)),
    (200L, Seq(0f, 1f, 0f, 0f))
  ).toDF("c_id", "embedding")

  test("near-twins in one cluster lose to the smaller id; cross-cluster twins both survive") {
    val corpus = Seq(
      (1L, Seq(1f, 0.1f, 0f, 0f)),   // cluster 100
      (2L, Seq(1f, 0.11f, 0f, 0f)),  // near-twin of 1, same cluster -> dropped
      (3L, Seq(0.9f, -0.4f, 0f, 0f)), // cluster 100 but far from 1/2 -> kept
      (4L, Seq(0.1f, 1f, 0f, 0f)),   // cluster 200
      (5L, Seq(0.1f, 1f, 0.01f, 0f)) // near-twin of 4, same cluster -> dropped
    ).toDF("vec_id", "embedding")
    val out = SemDedup.mark(corpus, centroids, "vec_id", "embedding", "c_id", tau = 0.98)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((100, true)))
    assert(out(2L) == ((100, false)))
    assert(out(3L) == ((100, true)))
    assert(out(4L) == ((200, true)))
    assert(out(5L) == ((200, false)))
  }

  test("chains drop every id with a smaller-id twin (greedy by preference, not transitive-free)") {
    // 1~2 and 2~3 qualify; 1~3 also qualifies here -> 2 and 3 both lose to 1
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0.05f, 0f, 0f)),
      (3L, Seq(1f, 0.1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = SemDedup.mark(corpus, centroids, "vec_id", "embedding", "c_id", tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("againstCorpus: store twins drop first, survivors twin-drop in-batch") {
    val corpus = Seq(
      (1L, Seq(1f, 0.1f, 0f, 0f)),   // cluster 100
      (4L, Seq(0.1f, 1f, 0f, 0f)))   // cluster 200
      .toDF("vec_id", "embedding")
    val batch = Seq(
      // near-twin of corpus 1 (same cluster) -> dropped at the store,
      // corpus text/vectors never mutated, old data wins
      (10L, Seq(1f, 0.11f, 0f, 0f)),
      // novel direction in cluster 100 -> admitted
      (11L, Seq(0.9f, -0.4f, 0f, 0f)),
      // in-batch near-twin of 11 -> dropped at the in-batch mark
      (12L, Seq(0.9f, -0.41f, 0f, 0f)),
      // novel in cluster 200 -> admitted
      (13L, Seq(-0.2f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val store = SemDedup.semanticStore(corpus, centroids, "vec_id",
      "embedding", "c_id")
    val got = SemDedup.againstCorpus(batch, store, centroids, "vec_id",
        "embedding", "c_id", tau = 0.98)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == Set(11L, 13L), s"got $got")
  }

  test("prototypicality: rank 1 hugs the centroid, the tail is the diverse edge") {
    val corpus = Seq(
      (1L, Seq(1f, 0.05f, 0f, 0f)), // nearly on centroid 100 -> rank 1
      (2L, Seq(1f, 0.3f, 0f, 0f)),  // further out -> rank 2
      (3L, Seq(0.7f, -0.7f, 0f, 0f)), // cluster-100 edge -> rank 3
      (4L, Seq(0f, 1f, 0f, 0f)))    // exactly centroid 200 -> rank 1 there
      .toDF("vec_id", "embedding")
    val out = SemDedup.prototypicality(corpus, centroids, "vec_id",
        "embedding", "c_id")
      .select($"vec_id", $"cluster".cast("long"), $"rk")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((100L, 1L)) && out(2L) == ((100L, 2L)) &&
      out(3L) == ((100L, 3L)), s"cluster-100 order: $out")
    assert(out(4L) == ((200L, 1L)))
  }

  test("semantic store commit: re-ingesting an admitted snapshot is a no-op") {
    val corpus = Seq((1L, Seq(1f, 0.1f, 0f, 0f))).toDF("vec_id", "embedding")
    SemDedup.writeSemanticStore(corpus, centroids, "vec_id", "embedding",
      "c_id", "sem_store_rounds", buckets = 2)
    try {
      val snap = Seq(
        (10L, Seq(0.9f, -0.4f, 0f, 0f)),
        (11L, Seq(-0.2f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
      val admitted = SemDedup.againstCorpus(snap,
        spark.table("sem_store_rounds"), centroids, "vec_id", "embedding",
        "c_id", tau = 0.98)
      assert(admitted.count() == 2L, "both snapshot vectors are novel")
      SemDedup.appendToSemanticStore(admitted, centroids, "vec_id",
        "embedding", "c_id", "sem_store_rounds")
      val replay = SemDedup.againstCorpus(snap,
        spark.table("sem_store_rounds"), centroids, "vec_id", "embedding",
        "c_id", tau = 0.98)
      assert(replay.count() == 0L,
        "committed vectors reject their own re-delivery at cos 1.0")
    } finally spark.sql("DROP TABLE IF EXISTS sem_store_rounds")
  }

  test("semantic store commit: double-commit == single-commit (crash-retry discipline)") {
    val corpus = Seq((1L, Seq(1f, 0.1f, 0f, 0f))).toDF("vec_id", "embedding")
    SemDedup.writeSemanticStore(corpus, centroids, "vec_id", "embedding",
      "c_id", "sem_store_double", buckets = 2)
    try {
      val snap = Seq(
        (10L, Seq(0.9f, -0.4f, 0f, 0f)),
        (11L, Seq(-0.2f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
      val admitted = SemDedup.againstCorpus(snap,
        spark.table("sem_store_double"), centroids, "vec_id", "embedding",
        "c_id", tau = 0.98).localCheckpoint()
      SemDedup.appendToSemanticStore(admitted, centroids, "vec_id",
        "embedding", "c_id", "sem_store_double")
      val once = spark.table("sem_store_double").collect().toSet
      // the crash-retry case: the same COMMIT runs again
      SemDedup.appendToSemanticStore(admitted, centroids, "vec_id",
        "embedding", "c_id", "sem_store_double")
      val twice = spark.table("sem_store_double").collect().toSet
      assert(spark.table("sem_store_double").count() == once.size.toLong,
        "a double-commit must not seed duplicate (cluster, id, embedding) rows")
      assert(twice == once)
    } finally spark.sql("DROP TABLE IF EXISTS sem_store_double")
  }

  test("cluster guard: one degenerate centroid, 5k vectors — bounded tiles, metric fires, answer exact") {
    // every vector lands in cluster 100 and is within tau of every other:
    // the stale-centroid worst case. With maxCluster = 256 the pair space
    // tiles into ~20x20 chunk tasks instead of one quadratic task.
    val n = 5000
    val corpus = (1 to n).map(i => (i.toLong, Seq(1f, i * 1e-6f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val marked = SemDedup.mark(corpus, centroids, "vec_id", "embedding",
      "c_id", tau = 0.99, maxCluster = 256)
    // collect() on `marked` ITSELF so the metric lands on this QueryExecution
    val rows = marked.collect()
    val kept = rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSeq
    assert(kept == Seq(1L), s"only the minimum id survives a full-twin cluster: $kept")
    val metrics = marked.queryExecution.observedMetrics
      .collect { case (k, v) if k.startsWith("graft_semdedup_cluster_") => v }
    assert(metrics.nonEmpty, "the cluster-skew metric must be attached to the plan")
    assert(metrics.head.getAs[Long]("max_cluster") == n.toLong)
    assert(metrics.head.getAs[Long]("overcap_rows") == n.toLong,
      "every row sits in the over-cap cluster")
  }

  test("cluster guard: capped == uncapped below and above the cap (mark + againstCorpus)") {
    val corpus = Seq(
      (1L, Seq(1f, 0.1f, 0f, 0f)), (2L, Seq(1f, 0.11f, 0f, 0f)),
      (3L, Seq(0.9f, -0.4f, 0f, 0f)), (4L, Seq(0.1f, 1f, 0f, 0f)),
      (5L, Seq(0.1f, 1f, 0.01f, 0f)), (6L, Seq(1f, 0.12f, 0f, 0f)),
      (7L, Seq(0.95f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
    def marks(cap: Int) = SemDedup.mark(corpus, centroids, "vec_id",
        "embedding", "c_id", tau = 0.98, maxCluster = cap)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(marks(2) == marks(4096), "tiling must only partition the comparison space")

    val batch = Seq(
      (10L, Seq(1f, 0.11f, 0f, 0f)), (11L, Seq(0.9f, -0.4f, 0f, 0f)),
      (12L, Seq(0.9f, -0.41f, 0f, 0f)), (13L, Seq(-0.2f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val store = SemDedup.semanticStore(corpus, centroids, "vec_id",
      "embedding", "c_id")
    def admitted(cap: Int) = SemDedup.againstCorpus(batch, store, centroids,
        "vec_id", "embedding", "c_id", tau = 0.98, maxCluster = cap)
      .select($"vec_id").as[Long].collect().toSet
    // cap 2 forces the hot branch on every cluster; 0 disables the guard
    assert(admitted(2) == admitted(0) && admitted(2) == admitted(1 << 16))
  }

  test("centroid guard: drifted probes and commits fail fast; matching ones pass") {
    val corpus = Seq(
      (1L, Seq(1f, 0.1f, 0f, 0f)), (4L, Seq(0.1f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    SemDedup.writeSemanticStore(corpus, centroids, "vec_id", "embedding",
      "c_id", "sem_store_guard", buckets = 2)
    try {
      // matching centroids open cleanly
      val ok = SemDedup.openSemanticStore(spark, "sem_store_guard",
        centroids, "c_id", "embedding")
      assert(ok.count() == 2L)
      // a drifted centroid set cannot silently probe wrong clusters
      val drifted = Seq(
        (100L, Seq(0.7f, 0.7f, 0f, 0f)),
        (200L, Seq(0f, 0f, 1f, 0f))).toDF("c_id", "embedding")
      val e1 = intercept[IllegalArgumentException] {
        SemDedup.openSemanticStore(spark, "sem_store_guard", drifted,
          "c_id", "embedding")
      }
      assert(e1.getMessage.contains("centroid set mismatch"))
      // ... nor corrupt the store at commit time
      val snap = Seq((10L, Seq(-0.2f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
      val e2 = intercept[IllegalArgumentException] {
        SemDedup.appendToSemanticStore(snap, drifted, "vec_id", "embedding",
          "c_id", "sem_store_guard")
      }
      assert(e2.getMessage.contains("centroid set mismatch"))
      // matching commit still works
      SemDedup.appendToSemanticStore(snap, centroids, "vec_id", "embedding",
        "c_id", "sem_store_guard")
      assert(spark.table("sem_store_guard").count() == 3L)

      // an UNSTAMPED store (interrupted write) is not silently accepted
      // under any centroid set; stampSemanticStore is the recovery
      spark.sql("ALTER TABLE sem_store_guard UNSET TBLPROPERTIES " +
        s"('${SemDedup.CentroidsProp}')")
      val e3 = intercept[IllegalArgumentException] {
        SemDedup.openSemanticStore(spark, "sem_store_guard", centroids,
          "c_id", "embedding")
      }
      assert(e3.getMessage.contains("no centroid fingerprint stamp"))
      SemDedup.stampSemanticStore(spark, "sem_store_guard", centroids,
        "c_id", "embedding")
      assert(SemDedup.openSemanticStore(spark, "sem_store_guard", centroids,
        "c_id", "embedding").count() == 3L)
    } finally spark.sql("DROP TABLE IF EXISTS sem_store_guard")
  }

  test("centroid refresh: remapped store == from-scratch re-cluster, old probes fail fast") {
    val corpus = Seq(
      (1L, Seq(1f, 0.1f, 0f, 0f)), (2L, Seq(0.9f, -0.4f, 0f, 0f)),
      (3L, Seq(0.1f, 1f, 0f, 0f)), (4L, Seq(-0.2f, 1f, 0f, 0f)),
      (5L, Seq(0.6f, 0.75f, 0f, 0f))).toDF("vec_id", "embedding")
    val fresh = Seq(
      (7L, Seq(0.7f, 0.7f, 0f, 0f)),
      (8L, Seq(1f, -0.5f, 0f, 0f)),
      (9L, Seq(-0.5f, 1f, 0f, 0f))).toDF("c_id", "embedding")
    SemDedup.writeSemanticStore(corpus, centroids, "vec_id", "embedding",
      "c_id", "sem_store_remap", buckets = 2)
    SemDedup.writeSemanticStore(corpus, fresh, "vec_id", "embedding",
      "c_id", "sem_store_scratch", buckets = 2)
    try {
      SemDedup.remapSemanticStore(spark, "sem_store_remap", fresh,
        "vec_id", "embedding", "c_id")
      def snap(t: String) = spark.table(t)
        .select($"cluster".cast("long"), $"vec_id",
          $"embedding".cast("array<double>"))
        .as[(Long, Long, Seq[Double])].collect().toSet
      assert(snap("sem_store_remap") == snap("sem_store_scratch"),
        "refresh must equal a full re-cluster from scratch")
      // the old centroid set is now the drifted one
      intercept[IllegalArgumentException] {
        SemDedup.openSemanticStore(spark, "sem_store_remap", centroids,
          "c_id", "embedding")
      }
      // probes under the new set: same admissions through either store
      val batch = Seq(
        (10L, Seq(1f, 0.11f, 0f, 0f)), (11L, Seq(0.5f, 0.8f, 0f, 0f)))
        .toDF("vec_id", "embedding")
      def admitted(t: String) = SemDedup.againstCorpus(batch,
          SemDedup.openSemanticStore(spark, t, fresh, "c_id", "embedding"),
          fresh, "vec_id", "embedding", "c_id", tau = 0.98)
        .select($"vec_id").as[Long].collect().toSet
      assert(admitted("sem_store_remap") == admitted("sem_store_scratch"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS sem_store_remap")
      spark.sql("DROP TABLE IF EXISTS sem_store_scratch")
      spark.sql("DROP TABLE IF EXISTS sem_store_remap__rewriting")
    }
  }

  test("tau above every similarity keeps the whole corpus") {
    val corpus = Seq(
      (1L, Seq(1f, 0.3f, 0f, 0f)),
      (2L, Seq(1f, -0.3f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = SemDedup.mark(corpus, centroids, "vec_id", "embedding", "c_id", tau = 0.999)
      .collect().map(r => r.getBoolean(2))
    assert(out.forall(identity))
  }
}
