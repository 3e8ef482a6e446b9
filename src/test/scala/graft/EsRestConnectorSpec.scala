package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `graft-es` wire connector (graft.sources.EsRest*) against the
  * in-JVM ES protocol stub: bulk round-trip through sliced PIT scans,
  * mapping inference, id-upsert replay convergence (the sync loop's
  * idempotency contract), `_source` pruning + prefilter shipping, PIT
  * lifecycle cleanup, and loud bulk-error surfacing. */
class EsRestConnectorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val mappings =
    """{"mappings":{"properties":{
      |  "id":{"type":"long"},"name":{"type":"keyword"},
      |  "v":{"type":"double"},"flag":{"type":"boolean"}}}}""".stripMargin

  private def withStub(test: EsStubServer => Unit): Unit = {
    val stub = new EsStubServer().start()
    try {
      val (code, _) = graft.sources.EsHttp.request(
        "PUT", s"${stub.url}/docs", Some(mappings))
      assert(code === 200)
      test(stub)
    } finally stub.stop()
  }

  private def sample(n: Int) =
    (1 to n).map(i => (i.toLong, s"name$i", i * 0.5, i % 3 == 0))
      .toDF("id", "name", "v", "flag")

  private def write(stub: EsStubServer, df: org.apache.spark.sql.DataFrame,
      extra: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("graft-es")
      .option("nodes", stub.url).option("index", "docs")
      .option("id-column", "id")
    extra.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
      .mode("append").save()
  }

  private def read(stub: EsStubServer, slices: Int = 3) =
    spark.read.format("graft-es")
      .option("nodes", stub.url).option("index", "docs")
      .option("read-slices", slices.toString)
      .option("scroll-size", "64")
      .load()

  test("bulk round-trip through sliced PIT scans: rows, schema and types survive") {
    withStub { stub =>
      val src = sample(500)
      write(stub, src, Map("bulk-size" -> "100"))
      assert(stub.docCount("docs") === 500)
      // bounded bulk bodies: >=5 requests for 500 rows at bulk-size 100
      assert(stub.bulkRequests.get() >= 5,
        s"expected bounded bulk bodies, saw ${stub.bulkRequests.get()} requests")
      val back = read(stub)
      assert(back.schema.map(f => (f.name, f.dataType)).toSet ===
        src.schema.map(f => (f.name, f.dataType)).toSet)
      assert(back.orderBy($"id").collect().toSeq ===
        src.select(back.columns.map(col): _*).orderBy($"id").collect().toSeq)
    }
  }

  test("mapping inference: GET _mapping drives the schema") {
    withStub { stub =>
      import org.apache.spark.sql.types._
      val inferred = spark.read.format("graft-es")
        .option("nodes", stub.url).option("index", "docs").load().schema
      assert(inferred.map(f => (f.name, f.dataType)).toSet === Set(
        ("id", LongType), ("name", StringType),
        ("v", DoubleType), ("flag", BooleanType)))
    }
  }

  test("replayed write converges by _id upsert — the sync loop's idempotency contract") {
    withStub { stub =>
      write(stub, sample(200))
      write(stub, sample(200)) // the replay: same ids, same docs
      assert(stub.docCount("docs") === 200, "replay must upsert, not duplicate")
      assert(read(stub).count() === 200)
      // and a changed replay WINS (last write converges the doc)
      write(stub, sample(200).withColumn("name", lit("rewritten")))
      assert(stub.docCount("docs") === 200)
      assert(read(stub).filter($"name" === "rewritten").count() === 200)
    }
  }

  test("column pruning reaches _source.includes; prefilter ships as bool.filter but stays residual-checked") {
    withStub { stub =>
      write(stub, sample(300))
      val got = read(stub).filter($"id" > 250L).select($"id", $"name")
        .orderBy($"id").collect()
      assert(got.map(_.getLong(0)).toSeq === (251L to 300L))
      // pruning: the search request asked for exactly the needed columns
      assert(stub.lastSourceIncludes.toSet === Set("id", "name"))
      // prefilter: the range clause reached the stub's query body
      assert(stub.lastQuery.contains("\"range\"") &&
        stub.lastQuery.contains("\"gt\":250"), stub.lastQuery)
      // the plan keeps the residual Filter (data-skipping-only contract)
      val plan = read(stub).filter($"id" > 250L).select($"id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Filter"), s"residual filter must remain:\n$plan")
    }
  }

  test("read parallelism = one PIT slice per input partition") {
    withStub { stub =>
      write(stub, sample(100))
      val df = read(stub, slices = 5)
      assert(df.rdd.getNumPartitions === 5)
      assert(df.count() === 100) // slices partition, never duplicate/drop
    }
  }

  test("PIT + search_after (the default scan): open, paginate by [_shard_doc], close — and never touch scroll") {
    withStub { stub =>
      write(stub, sample(300)) // 300 docs / scroll-size 64 → ≥2 pages per slice
      val n = read(stub, slices = 3).count()
      assert(n === 300)
      assert(stub.pitOpens.get() === 3, "one PIT per slice reader")
      assert(stub.pitDeletes.get() === 3, "every PIT closed on completion")
      assert(stub.scrollDeletes.get() === 0 && stub.bulkRequests.get() > 0)
    }
  }

  test("a page shorter than the page size ends its PIT slice: one search per slice") {
    withStub { stub =>
      write(stub, sample(20)) // 20 docs over 4 slices, page size 64
      assert(read(stub, slices = 4).count() === 20)
      assert(stub.pitOpens.get() === 4)
      assert(stub.searches.get() === 4, "a short page is the slice's last")
    }
  }

  test("PIT scans return exactly the rows written, whole and prefiltered") {
    withStub { stub =>
      val src = sample(257)
      write(stub, src)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy($"id").collect().map(_.toString).toSeq
      val back = read(stub, slices = 4)
      assert(rows(back) === rows(src.select(back.columns.map(col): _*)))
      // prefiltered + pruned reads return exactly the matching rows too
      val filtered = rows(read(stub, slices = 2)
        .filter($"id" > 200L).select($"id", $"name"))
      assert(filtered === rows(src.filter($"id" > 200L).select($"id", $"name")))
      assert(filtered.size === 57)
    }
  }

  test("a PIT is a point in time: docs indexed after the open are invisible inside it") {
    withStub { stub =>
      write(stub, sample(5))
      val (code, body) = graft.sources.EsHttp.request("POST",
        s"${stub.url}/docs/_pit?keep_alive=1m", Some(""))
      assert(code === 200)
      val pitId = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body).path("id").asText()
      write(stub, sample(9)) // 4 more docs land AFTER the open
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val req = m.createObjectNode()
      req.put("size", 100)
      req.putObject("pit").put("id", pitId)
      req.putArray("sort").addObject().put("_shard_doc", "asc")
      val (c2, resp) = graft.sources.EsHttp.request("POST",
        s"${stub.url}/_search", Some(m.writeValueAsString(req)))
      assert(c2 === 200)
      assert(m.readTree(resp).path("hits").path("hits").size() === 5,
        "the PIT must serve its open-time snapshot")
      assert(stub.docCount("docs") === 9)
    }
  }

  test("a bulk item error fails the write loudly, with the failing _id") {
    withStub { stub =>
      stub.failNextBulkItem = true
      val e = intercept[Exception] { write(stub, sample(10)) }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: causes(t.getCause)
      assert(causes(e).exists(m => m != null && m.contains("bulk item failed")),
        s"got: ${causes(e).mkString(" | ")}")
    }
  }

  test("429 backpressure: ONLY rejected items re-send, with backoff, until the storm drains — full convergence") {
    withStub { stub =>
      stub.inject429Items.set(17) // a storm: 17 item rejections spread over requests
      write(stub, sample(60), Map(
        "bulk-size" -> "10", "bulk-retries" -> "5", "bulk-retry-wait-ms" -> "1"))
      assert(stub.inject429Items.get() === 0, "the storm was absorbed")
      assert(stub.docCount("docs") === 60,
        "every rejected item must eventually land exactly once")
      val back = read(stub).orderBy($"id").collect()
      assert(back.length === 60 && back(16).getString(back(16).fieldIndex("name")) === "name17")
    }
  }

  test("429 past the bounded retry cap fails LOUDLY (an overloaded cluster must surface, not spin)") {
    withStub { stub =>
      stub.inject429Items.set(1000000) // the cluster never recovers
      val e = intercept[Exception] {
        write(stub, sample(20), Map(
          "bulk-size" -> "10", "bulk-retries" -> "2", "bulk-retry-wait-ms" -> "1"))
      }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: causes(t.getCause)
      assert(causes(e).exists(m => m != null && m.contains("429")),
        s"got: ${causes(e).mkString(" | ")}")
      stub.inject429Items.set(0)
    }
  }

  test("a version conflict (409) under external_gte is the regress guard, not an error; newer versions land") {
    withStub { stub =>
      def vwrite(df: org.apache.spark.sql.DataFrame): Unit =
        write(stub, df, Map("version-column" -> "id2" ))
      // version rides a bigint column; use id as both _id and version seed
      val v1 = sample(1).withColumn("id2", $"id" * 100L)
      vwrite(v1) // doc 1 at version 100
      // an OLDER relay (version 50) must be a silent no-op
      vwrite(sample(1).withColumn("name", org.apache.spark.sql.functions.lit("stale"))
        .withColumn("id2", $"id" * 50L))
      val name1 = read(stub).filter($"id" === 1L).collect().head.getAs[String]("name")
      assert(name1 === "name1", "the older version must not clobber")
      // an equal version re-lands (external_gte — replay convergence)
      vwrite(v1)
      // a NEWER version overwrites
      vwrite(sample(1).withColumn("name", org.apache.spark.sql.functions.lit("fresh"))
        .withColumn("id2", $"id" * 200L))
      val n2 = read(stub).filter($"id" === 1L).collect().head.getAs[String]("name")
      assert(n2 === "fresh")
    }
  }

  test("dense_vector mapping: embedding fields round-trip as float arrays") {
    val stub = new EsStubServer().start()
    try {
      val (code, _) = graft.sources.EsHttp.request("PUT", s"${stub.url}/vecs", Some(
        """{"mappings":{"properties":{"id":{"type":"long"},
          |"emb":{"type":"dense_vector","dims":4}}}}""".stripMargin))
      assert(code === 200)
      val src = Seq((1L, Array(0.5f, -1.25f, 0f, 3f)), (2L, Array(1f, 2f, 3f, 4f)))
        .toDF("id", "emb")
      src.write.format("graft-es").option("nodes", stub.url)
        .option("index", "vecs").option("id-column", "id")
        .mode("append").save()
      val back = spark.read.format("graft-es")
        .option("nodes", stub.url).option("index", "vecs").load()
      assert(back.schema("emb").dataType ===
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
      val rows = back.orderBy($"id").collect()
        .map(r => (r.getLong(r.fieldIndex("id")), r.getSeq[Float](r.fieldIndex("emb"))))
      assert(rows === Array((1L, Seq(0.5f, -1.25f, 0f, 3f)), (2L, Seq(1f, 2f, 3f, 4f))))
    } finally stub.stop()
  }

  test("auto-assigned ids require an explicit opt-in (retry duplication)") {
    withStub { stub =>
      val e = intercept[Exception] {
        sample(5).write.format("graft-es")
          .option("nodes", stub.url).option("index", "docs")
          .mode("append").save()
      }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: causes(t.getCause)
      assert(causes(e).exists(m => m != null && m.contains("id-column")))
      // with the opt-in the write goes through
      sample(5).write.format("graft-es")
        .option("nodes", stub.url).option("index", "docs")
        .option("allow-auto-ids", "true").mode("append").save()
      assert(stub.docCount("docs") === 5)
    }
  }
}
