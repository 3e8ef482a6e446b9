package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Every positive-integer read option of the three connectors refuses 0, a
  * negative number and a non-number with one message, when the scan is
  * planned and before any partition is read. Without the check, `0` or a
  * negative split count plans no partitions (an empty read with no error),
  * `scroll-size=0` ends every slice at once, `token-splits=0` divides by
  * zero and `page-size=0` pages forever against a server that returns
  * empty pages with a paging state. */
class ReadOptionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("positive-integer read options fail loudly on 0, -1 and a non-number") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    try {
      cql.createTable("ks", "t", Seq(("id", "bigint"), ("v", "double")), pk = "id")
      val store = Files.createTempDirectory("readopts").toString + "/store"
      Seq((1L, 1.0)).toDF("id", "v").write.format("graft-sync").mode("append").save(store)
      graft.sources.EsHttp.request("PUT", s"${es.url}/docs", Some(
        """{"mappings":{"properties":{"id":{"type":"long"},"v":{"type":"double"}}}}"""))
      def cqlRead(k: String, v: String): DataFrame = spark.read.format("graft-cql")
        .option("host", cql.host).option("keyspace", "ks").option("table", "t")
        .option("partition-key", "id").option(k, v).load()
      def esRead(k: String, v: String): DataFrame = spark.read.format("graft-es")
        .option("nodes", es.url).option("index", "docs").option(k, v).load()
      def syncRead(k: String, v: String): DataFrame =
        spark.read.format("graft-sync").option(k, v).load(store)
      val cases: Seq[(String, String, (String, String) => DataFrame)] = Seq(
        ("graft-es", "read-slices", esRead),
        ("graft-es", "scroll-size", esRead),
        ("graft-cql", "token-splits", cqlRead),
        ("graft-cql", "page-size", cqlRead),
        ("graft-sync", "max-pages-per-trigger", syncRead))
      for ((connector, key, read) <- cases; v <- Seq("0", "-1", "x")) {
        val e = intercept[Exception](read(key, v).collect())
        val want = s"$connector: $key must be a positive integer, got '$v'"
        assert(messages(e).contains(want), s"$key=$v: ${messages(e)}")
      }
    } finally { cql.stop(); es.stop() }
  }
}
