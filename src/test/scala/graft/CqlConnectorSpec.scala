package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `graft-cql` wire connector (graft.sources.Cql*) against the CQL
  * native-protocol stub: token-range parallel round-trip with protocol
  * paging, schema inference from system_schema.columns, primary-key
  * upsert convergence (C* INSERT semantics = retry idempotency), SELECT
  * list pruning, and bounded batch writes. */
class CqlConnectorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def withStub(test: CqlStubServer => Unit): Unit = {
    val stub = new CqlStubServer().start()
    try {
      stub.createTable("ks", "events", Seq(
        ("id", "bigint"), ("name", "text"), ("v", "double"),
        ("flag", "boolean"), ("xs", "list<double>"), ("ts", "bigint")),
        pk = "id")
      test(stub)
    } finally stub.stop()
  }

  private def sample(n: Int) =
    (1 to n).map(i =>
        (i.toLong, s"name$i", i * 0.5, i % 3 == 0, Array(i * 1.0, i * 2.0)))
      .toDF("id", "name", "v", "flag", "xs")

  private def write(stub: CqlStubServer, df: org.apache.spark.sql.DataFrame,
      batchRows: Int = 64): Unit =
    df.write.format("graft-cql")
      .option("host", stub.host).option("keyspace", "ks")
      .option("table", "events").option("batch-rows", batchRows.toString)
      .mode("append").save()

  private def read(stub: CqlStubServer, splits: Int = 4, pageSize: Int = 1000) =
    spark.read.format("graft-cql")
      .option("host", stub.host).option("keyspace", "ks")
      .option("table", "events").option("partition-key", "id")
      .option("token-splits", splits.toString)
      .option("page-size", pageSize.toString)
      .load()

  test("token-range round-trip: every row comes back exactly once across splits") {
    withStub { stub =>
      val src = sample(500)
      write(stub, src, batchRows = 50)
      assert(stub.rowCount("ks", "events") === 500)
      assert(stub.batchRequests.get() >= 10,
        s"bounded batches expected, saw ${stub.batchRequests.get()}")
      val back = read(stub, splits = 5)
      assert(back.rdd.getNumPartitions === 5)
      // compare through CSV'd arrays (driver-compare discipline)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select($"id", $"name", $"v", $"flag",
          array_join($"xs".cast("array<string>"), ",").as("xs"))
        .orderBy($"id").collect().toSeq
      assert(canon(back) === canon(src))
    }
  }

  test("schema inference reads system_schema.columns over the wire") {
    withStub { stub =>
      import org.apache.spark.sql.types._
      val inferred = spark.read.format("graft-cql")
        .option("host", stub.host).option("keyspace", "ks")
        .option("table", "events").option("partition-key", "id")
        .load().schema
      assert(inferred.map(f => (f.name, f.dataType)).toSet === Set(
        ("id", LongType), ("name", StringType), ("v", DoubleType),
        ("flag", BooleanType), ("xs", ArrayType(DoubleType)),
        ("ts", LongType)))
    }
  }

  test("replayed write converges by primary-key upsert (C* INSERT semantics)") {
    withStub { stub =>
      write(stub, sample(200))
      write(stub, sample(200)) // the replay
      assert(stub.rowCount("ks", "events") === 200, "upsert, not duplicate")
      write(stub, sample(200).withColumn("name", lit("rewritten")))
      assert(stub.rowCount("ks", "events") === 200)
      assert(read(stub).filter($"name" === "rewritten").count() === 200)
    }
  }

  test("column pruning reaches the CQL SELECT list") {
    withStub { stub =>
      write(stub, sample(100))
      val got = read(stub).select($"id", $"v").orderBy($"id").collect()
      assert(got.length === 100 && got.last.getDouble(1) === 50.0)
      assert(stub.lastSelectCols.toSet === Set("id", "v"))
    }
  }

  test("protocol paging: a small page-size drains ranges over multiple exchanges") {
    withStub { stub =>
      write(stub, sample(300))
      stub.selectRequests.set(0)
      assert(read(stub, splits = 2, pageSize = 32).count() === 300)
      // 300 rows over 2 ranges at 32/page needs well over 2 exchanges
      assert(stub.selectRequests.get() > 6,
        s"paging expected, saw ${stub.selectRequests.get()} exchanges")
    }
  }

  test("USING TIMESTAMP round-trips as WRITETIME: the source stamp IS the stored stamp") {
    withStub { stub =>
      // the reference's C* write path: stamp every write with the SOURCE
      // timestamp so LWW resolves by origin time, not arrival order
      Seq((1L, "x", 111111L), (2L, "y", 222222L)).toDF("id", "name", "v")
        .withColumn("v", $"v".cast("double"))
        .withColumn("ts", ($"id" * 1000000L + 500L))
        .write.format("graft-cql")
        .option("host", stub.host).option("keyspace", "ks")
        .option("table", "events")
        .option("using-timestamp-column", "ts")
        .mode("append").save()
      val got = spark.read.format("graft-cql")
        .option("host", stub.host).option("keyspace", "ks")
        .option("table", "events").option("partition-key", "id")
        .option("writetime-of", "name")
        .load()
        .select($"id", $"name", $"writetime")
        .orderBy($"id").collect()
      assert(got.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
        Seq((1L, "x", 1000500L), (2L, "y", 2000500L)))
    }
  }

  test("per-cell LWW on the wire: older stamps cannot clobber; disjoint columns merge per cell (i20 server-side)") {
    withStub { stub =>
      def put(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-cql")
          .option("host", stub.host).option("keyspace", "ks")
          .option("table", "events")
          .option("using-timestamp-column", "ts")
          .mode("append").save()
      // write name at stamp 200
      put(Seq((1L, "new-name", 200L)).toDF("id", "name", "ts"))
      // an OLDER replayed write arrives LATER — it must lose, cell by cell
      put(Seq((1L, "stale-name", 1.5, 100L)).toDF("id", "name", "v", "ts"))
      // a NEWER write touching only v — the name cell must survive
      put(Seq((1L, 9.9, 300L)).toDF("id", "v", "ts"))
      val r = spark.read.format("graft-cql")
        .option("host", stub.host).option("keyspace", "ks")
        .option("table", "events").option("partition-key", "id")
        .load().select($"id", $"name", $"v").collect()
      assert(r.length === 1)
      assert(r(0).getString(1) === "new-name",
        "the stale replay must not clobber the newer name cell")
      assert(r(0).getDouble(2) === 9.9,
        "the v cell comes from ITS newest writer — per-cell, not per-row")
    }
  }

  test("writetime-of on write: each cell lands under its own stamp; a null stamp leaves that cell alone") {
    withStub { stub =>
      def put(df: org.apache.spark.sql.DataFrame, opt: (String, String)): Unit =
        df.write.format("graft-cql")
          .option("host", stub.host).option("keyspace", "ks")
          .option("table", "events").option(opt._1, opt._2)
          .mode("append").save()
      // the earlier state: both cells of keys 1 and 2 at stamp 100
      put(Seq((1L, "a1", 1.0, 100L), (2L, "a2", 2.0, 100L)).toDF("id", "name", "v", "ts"),
        "using-timestamp-column" -> "ts")
      // a 2-cell write: key 2 carries no stamp for v
      put(Seq((1L, "b1", 5.0, Some(300L), Some(400L)), (2L, "b2", 9.0, Some(500L), None))
        .toDF("id", "name", "v", "writetime_name", "writetime_v"),
        "writetime-of" -> "name,v")
      val got = spark.read.format("graft-cql")
        .option("host", stub.host).option("keyspace", "ks")
        .option("table", "events").option("partition-key", "id")
        .option("writetime-of", "name,v").load()
        .select($"id", $"name", $"writetime_name", $"v", $"writetime_v")
        .orderBy($"id").collect().map(_.toSeq).toSeq
      assert(got === Seq(Seq(1L, "b1", 300L, 5.0, 400L), Seq(2L, "b2", 500L, 2.0, 100L)))
    }
  }

  test("writetime-of on write: a bad config fails with a graft-cql: message before writing") {
    withStub { stub =>
      def fails(df: org.apache.spark.sql.DataFrame, opts: (String, String)*): String = {
        val e = intercept[Exception](df.write.format("graft-cql")
          .option("host", stub.host).option("keyspace", "ks")
          .option("table", "events").options(opts.toMap).mode("append").save())
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).find(m => m != null && m.contains("graft-cql:"))
          .getOrElse(fail(s"no graft-cql: message in $e"))
      }
      val wt = "writetime-of" -> "name,v"
      assert(fails(Seq((1L, "a", 5L, 6L)).toDF("id", "name", "writetime_name", "writetime_v"), wt)
        .contains("'v'"), "a listed cell is missing")
      assert(fails(Seq((1L, "a", 1.0, 5L)).toDF("id", "name", "v", "writetime_name"), wt)
        .contains("'writetime_v'"), "a stamp column is missing")
      assert(fails(Seq((1L, "a", 1.0, 5L, "6")).toDF("id", "name", "v", "writetime_name", "writetime_v"), wt)
        .contains("bigint"), "a stamp column is not bigint")
      assert(fails(Seq((1L, "a", 5L, 6L)).toDF("id", "name", "writetime", "ts"),
        "writetime-of" -> "name", "using-timestamp-column" -> "ts")
        .contains("exclusive"), "writetime-of with using-timestamp-column")
      assert(stub.rowCount("ks", "events") === 0)
    }
  }

  test("prepared statements: one PREPARE serves every batch; ids are reused across batches") {
    withStub { stub =>
      write(stub, sample(200), batchRows = 20) // 10 batches, one INSERT shape
      assert(stub.rowCount("ks", "events") === 200)
      assert(stub.batchRequests.get() >= 10)
      // the INSERT text crossed the wire ONCE per writer connection;
      // local[*] may run several write tasks, but never one per batch
      assert(stub.prepareRequests.get() > 0 &&
        stub.prepareRequests.get() < stub.batchRequests.get(),
        s"prepares=${stub.prepareRequests.get()} batches=${stub.batchRequests.get()}")
      assert(stub.preparedCount === 1, "one statement shape = one server-side id")
    }
  }

  test("UNPREPARED (0x2500) recovery: id eviction mid-connection re-prepares and retries, no loss, no double-apply") {
    withStub { stub =>
      import graft.sources.CqlProtocol
      import org.apache.spark.sql.types.{LongType, StringType}
      val ins = "INSERT INTO ks.events (id, name) VALUES (?, ?)"
      def row(id: Long, name: String) = Seq(
        CqlProtocol.encode(id, LongType), CqlProtocol.encode(name, StringType))
      val client = new CqlProtocol.Client("127.0.0.1", stub.port)
      try {
        client.batchPrepared(Seq((ins, row(1L, "a"))))
        assert(stub.rowCount("ks", "events") === 1)
        // the coordinator restarts: every server-side id is gone, but the
        // CLIENT still holds the stale one — the next batch must hit
        // UNPREPARED, transparently re-prepare, and land exactly once
        stub.forgetPrepared()
        val before = stub.prepareRequests.get()
        client.batchPrepared(Seq((ins, row(2L, "b"))))
        assert(stub.prepareRequests.get() === before + 1, "recovery re-PREPAREs once")
        assert(stub.rowCount("ks", "events") === 2, "retried batch applies exactly once")
        // same recovery on the EXECUTE read path
        val sel = "SELECT id, name FROM ks.events WHERE " +
          s"token(id) >= ${Long.MinValue} AND token(id) <= ${Long.MaxValue}"
        assert(client.execute(sel).get.rows.size === 2)
        stub.forgetPrepared()
        assert(client.execute(sel).get.rows.size === 2,
          "EXECUTE after eviction recovers via re-prepare")
      } finally client.close()
    }
  }

  test("reads EXECUTE a prepared SELECT: pages after the first carry only the id") {
    withStub { stub =>
      write(stub, sample(120))
      stub.executeRequests.set(0)
      stub.prepareRequests.set(0)
      val n = read(stub, splits = 2, pageSize = 25).count()
      assert(n === 120)
      // 2 range readers -> 2 PREPAREs; ~120/25 pages all ride EXECUTE
      assert(stub.prepareRequests.get() === 2,
        s"one PREPARE per token-range reader, saw ${stub.prepareRequests.get()}")
      assert(stub.executeRequests.get() >= 5,
        s"every page exchange should be an EXECUTE, saw ${stub.executeRequests.get()}")
    }
  }

  test("nulls survive the wire (length −1 framing)") {
    withStub { stub =>
      val df = Seq((1L, null.asInstanceOf[String], 0.5),
        (2L, "b", 1.5)).toDF("id", "name", "v")
      df.write.format("graft-cql")
        .option("host", stub.host).option("keyspace", "ks")
        .option("table", "events").mode("append").save()
      val back = read(stub).select($"id", $"name", $"v").orderBy($"id").collect()
      assert(back(0).isNullAt(1) && back(1).getString(1) === "b")
    }
  }
}
