package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Every option of the three connectors is refused with one message,
  * `<connector>: <option> must be …, got '<v>'`, when the scan or write is
  * built and before any partition is read, any row is sent or any store
  * is touched. Without the check, `0` or a negative split count plans no
  * partitions (an empty read with no error), `scroll-size=0` ends every
  * slice at once, `token-splits=0` divides by zero and `page-size=0` pages
  * forever against a server that returns empty pages with a paging state;
  * on the write side a zero batch size sends one row per request and a
  * negative retry wait fails inside a task after earlier requests landed. */
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

  test("every connector option is refused by name when the scan or write is built, before any I/O") {
    val cql = new CqlStubServer().start()
    val es = new EsStubServer().start()
    try {
      cql.createTable("ks", "t", Seq(("id", "bigint"), ("v", "double"),
        ("flag", "boolean"), ("ts", "bigint")), pk = "id")
      graft.sources.EsHttp.request("PUT", s"${es.url}/docs", Some(
        """{"mappings":{"properties":{"id":{"type":"long"},"ts":{"type":"long"},"v":{"type":"double"}}}}"""))
      val root = Files.createTempDirectory("connopts").toString
      val stores = Iterator.from(0).map(i => s"$root/store$i")
      val rows = Seq((1L, 1.0, true), (2L, 2.0, false)).toDF("id", "v", "flag")
      type Run = (String, String) => Unit
      val cqlWrite: Run = (k, v) => rows.write.format("graft-cql")
        .option("host", cql.host).option("keyspace", "ks").option("table", "t")
        .option(k, v).mode("append").save()
      def esWrite(opts: (String, String)*): Run = (k, v) => rows.write.format("graft-es")
        .option("nodes", es.url).option("index", "docs").options(opts.toMap)
        .option(k, v).mode("append").save()
      val syncWrite: Run = (k, v) =>
        rows.write.format("graft-sync").option(k, v).mode("append").save(stores.next())
      val cqlRead: Run = (k, v) => spark.read.format("graft-cql")
        .option("host", cql.host).option("keyspace", "ks").option("table", "t")
        .option("partition-key", "id").option(k, v).load().collect()
      val checkpoints = Files.createTempDirectory("connopts-ckpt").toString
      val ckpts = Iterator.from(0).map(i => s"$checkpoints/$i")
      def drain(df: DataFrame): Unit = {
        val q = df.writeStream.format("noop").option("checkpointLocation", ckpts.next())
          .trigger(Trigger.AvailableNow()).start()
        try q.processAllAvailable() finally q.stop()
      }
      val cqlStream: Run = (k, v) => drain(spark.readStream.format("graft-cql")
        .option("host", cql.host).option("keyspace", "ks").option("table", "t")
        .option("partition-key", "id").option(k, v).load())
      val esStream: Run = (k, v) => drain(spark.readStream.format("graft-es")
        .option("nodes", es.url).option("index", "docs").option(k, v).load())
      val store = stores.next()
      Seq((1L, 1.0)).toDF("id", "v").write.format("graft-sync").mode("append").save(store)
      val syncStream: Run = (k, v) => drain(spark.readStream.format("graft-sync")
        .option(k, v).load(store))
      val ids = "id-column" -> "id"
      val written = "a column of [id, v, flag]"
      val cases: Seq[(String, String, Seq[String], String, Run)] = Seq(
        ("graft-cql", "batch-rows", Seq("0", "-3", "abc"), "a positive integer", cqlWrite),
        ("graft-es", "bulk-size", Seq("0", "-1", "x"), "a positive integer", esWrite(ids)),
        ("graft-es", "bulk-retries", Seq("-1", "x"), "a non-negative integer", esWrite(ids)),
        ("graft-es", "bulk-retry-wait-ms", Seq("-1", "x"), "a non-negative integer",
          esWrite(ids)),
        ("graft-es", "allow-auto-ids", Seq("yes"), "true or false", esWrite()),
        ("graft-es", "id-column", Seq("nope"), written, esWrite()),
        ("graft-es", "id-column", Seq("v"), "a string or int or bigint column", esWrite()),
        ("graft-es", "tombstone-column", Seq("nope"), written, esWrite(ids)),
        ("graft-es", "tombstone-column", Seq("v"), "a boolean column", esWrite(ids)),
        ("graft-es", "version-column", Seq("nope"), written, esWrite(ids)),
        ("graft-es", "version-column", Seq("flag"), "a bigint column", esWrite(ids)),
        ("graft-sync", "bulk-rows", Seq("0", "-1", "x"), "a positive integer", syncWrite),
        ("graft-cql", "host", Seq("127.0.0.1:x"),
          "host or host:port with a port in 1-65535", cqlRead),
        ("graft-cql", "partition-key", Seq("nope"), "a column of [flag, id, ts, v]", cqlRead),
        ("graft-cql", "incremental-column", Seq("nope"), "a column of [flag, id, ts, v]",
          cqlStream),
        ("graft-es", "incremental-column", Seq("nope"), "a column of [id, ts, v]", esStream),
        ("graft-sync", "starting-offset", Seq("x"), "earliest or latest", syncStream))
      for ((connector, key, values, must, run) <- cases; v <- values) {
        val want = s"$connector: $key must be $must, got '$v'"
        val verdict = try { run(key, v); "FAILS: no error, the value is accepted" } catch {
          case e: Exception =>
            if (messages(e).exists(_.contains(want))) "passes: refused by name"
            else s"FAILS: refused without the wanted message: ${e.getClass.getSimpleName}: " +
              messages(e).filter(_.nonEmpty).lastOption.getOrElse("").take(160).replace("\n", " ")
        }
        println(s"[option-row] $connector $key='$v' -> $verdict")
      }
      println(s"[option-io] cql selects=${cql.selectRequests.get} prepares=${cql.prepareRequests.get} " +
        s"batches=${cql.batchRequests.get} rows=${cql.rowCount("ks", "t")}; es pits=${es.pitOpens.get} " +
        s"searches=${es.searches.get} bulks=${es.bulkRequests.get} docs=${es.docCount("docs")}; " +
        s"stores=${Files.list(Paths.get(root)).toArray.length - 1}")
    } finally { cql.stop(); es.stop() }
  }
}
