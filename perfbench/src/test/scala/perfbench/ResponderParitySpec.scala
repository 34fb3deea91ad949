package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.{Dump, GraftSession}
import graft.sources.es.StubEsServer

/** The benchmark's ES responder must serve what an Elasticsearch index
  * holding the same documents serves: a dump through it and a dump through
  * the repository's functional stub give identical rows, and both equal
  * the generated tables. */
class ResponderParitySpec extends AnyFunSuite {

  test("dumps through the responder and through StubEsServer hash the same at sf0.001") {
    val conf = EsResponder.Config(seed = 7, sf = 0.001, slices = 2, size = 50,
      lenientPct = 20, threads = 2)
    val spark = GraftSession.local(2)
    val out = Files.createTempDirectory("perfbench_parity")
    val docs = EsResponder.indices.map { t =>
      t -> (0L until Gen.count(t, conf.sf)).map { i =>
        val sb = new java.lang.StringBuilder
        EsResponder.renderSource(sb, t, conf, i)
        sb.toString
      }
    }.toMap
    val stub = new StubEsServer(docs,
      EsResponder.indices.map(t => t -> EsResponder.mappingProperties(t)).toMap)
    val responder = new EsResponder.Server(conf)
    try {
      def dump(url: String, name: String, table: String) = {
        val dir = out.resolve(name).toString
        Dump.execute(spark, Array(table, "--es", url, "--out", dir, "--slices", "2",
          "--size", "50", "--flatten", "--compression", "zstd", "--quiet"))
        RowHash(spark.read.parquet(s"$dir/$table"))
      }
      EsResponder.indices.foreach { t =>
        val viaResponder = dump(s"http://127.0.0.1:${responder.port}", "responder", t)
        val viaStub = dump(stub.url, "stub", t)
        val generated = RowHash(Gen.frame(spark, t, conf.seed, conf.sf, fixture = false, 2))
        assert(viaResponder == viaStub, s"$t: responder vs stub")
        assert(viaResponder == generated, s"$t: responder vs generated table")
        assert(viaResponder._1 == Gen.count(t, conf.sf))
      }
    } finally {
      responder.close()
      stub.close()
      Main.deleteTree(out)
    }
  }
}
