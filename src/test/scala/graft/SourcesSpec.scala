package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Source/sink coverage (SURVEY.md §2.1 R1/R2/R14/R15, §2.2 sources):
  * text, wholetext dir scan with input_file_name (the reference's
  * native input mode, mapper.c:44-66/95-117), csv and json round
  * trips, and the binaryFile source for multimodal blobs. Files are
  * written under the suite's temporary directory and compared back
  * against the parquet-derived truth.
  */
class SourcesSpec extends SparkSpec {

  private lazy val tmpRoot = tempDir("sources-spec")

  test("wholetext dir scan + tokenize reproduces the documents word count (R1/R2 parity)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    // write each doc as its own text file — the reference's ./data layout
    val dir = s"$tmpRoot/data"
    docs.collect().foreach { r =>
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.writeString(
        java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.txt"), r.getString(1))
    }
    val fromFiles = spark.read.option("wholetext", true).text(dir)
      .select(input_file_name().as("fname"), $"value")
    assert(fromFiles.count() == docs.count())
    // word count over the files == word count over the parquet column
    val wcFiles = fromFiles
      .select(explode(split(lower($"value"), "[^\\p{L}\\p{N}]+")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").count().orderBy($"word")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val wcParquet = Registry.byName("wordcount").fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(wcFiles.toSeq == wcParquet.toSeq)
  }

  test("csv round trip preserves lineitem aggregates") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val path = s"$tmpRoot/lineitem_csv"
    li.write.mode("overwrite").option("header", true).csv(path)
    val back = spark.read.option("header", true)
      .option("inferSchema", true).csv(path)
    val a = li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
      .orderBy(col("l_returnflag")).collect().map(r => (r.getString(0), r.getDouble(1)))
    val b = back.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
      .orderBy(col("l_returnflag")).collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("json round trip preserves schema and row count") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val path = s"$tmpRoot/events_json"
    ev.write.mode("overwrite").json(path)
    val back = spark.read.json(path)
    assert(back.count() == ev.count())
    assert(back.columns.sorted.toSeq == ev.columns.sorted.toSeq)
    val a = ev.agg(sum(col("value"))).collect()(0).getDouble(0)
    val b = back.agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("orc round trip preserves row count and aggregates") {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val path = s"$tmpRoot/orders_orc"
    ord.write.mode("overwrite").orc(path)
    val back = spark.read.orc(path)
    assert(back.count() == ord.count())
    val a = ord.agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    val b = back.agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(a == b)
  }

  test("socket KV source streams 'key : value' lines (R4 analogue)") {
    import spark.implicits._
    // tiny TCP server speaking the reference's line protocol
    // (worker_manager.c:190-193): accept one client, write KV lines
    val server = new java.net.ServerSocket(0)
    val lines = Seq("alpha : 1", "beta : 2", "gamma : 3")
    val t = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      lines.foreach(out.println)
      out.flush()
      // keep the connection open until the reader is done
      Thread.sleep(5000)
      sock.close()
    })
    t.setDaemon(true)
    t.start()
    val stream = spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort)
      .load()
      .select(split($"value", " : ").as("kv"))
      .select($"kv".getItem(0).as("k"), $"kv".getItem(1).cast("long").as("v"))
    val q = stream.writeStream.format("memory").queryName("socket_t")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("socket_t").count() < 3 &&
        System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(200)
      }
      val got = spark.table("socket_t").orderBy($"k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq("alpha" -> 1L, "beta" -> 2L, "gamma" -> 3L))
    } finally {
      q.stop()
      server.close()
    }
  }

  test("binaryFile source reads blobs with metadata (multimodal ingest path)") {
    val dir = s"$tmpRoot/blobs"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.write(java.nio.file.Paths.get(dir, "a.bin"), Array[Byte](1, 2, 3))
    Files.write(java.nio.file.Paths.get(dir, "b.bin"), Array[Byte](4, 5))
    val df = spark.read.format("binaryFile").load(dir)
    val rows = df.select(col("path"), col("length"), col("content"))
      .orderBy(col("path")).collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 3 && rows(1).getLong(1) == 2)
    assert(rows(0).getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2, 3))
  }

  test("text line sink + line-KV parse source round trip (R3/R14 parity)") {
    import spark.implicits._
    // the reference's "key : value" wire format (mapper.c:85)
    val wc = Registry.byName("wordcount").fn(spark, sfDir).limit(50)
    val path = s"$tmpRoot/kv_lines"
    wc.select(concat_ws(" : ", $"word", $"cnt").as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    val back = spark.read.text(path)
      .select(split($"value", " : ").as("kv"))
      .select($"kv".getItem(0).as("word"), $"kv".getItem(1).cast("long").as("cnt"))
    val a = wc.orderBy($"word").collect().map(r => (r.getString(0), r.getLong(1)))
    val b = back.orderBy($"word").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("malformed JSON records: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST throws") {
    import spark.implicits._
    // a 100 TB ingest always contains garbage lines — the three mode
    // contracts are what keep a corrupt shard from poisoning the job
    val dir = tempDir("graft_badjson")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.json"),
      """{"id": 1, "v": 10.0}
        |{"id": 2, "v": BROKEN
        |{"id": 3, "v": 30.0}
        |""".stripMargin)
    val schema = "id LONG, v DOUBLE, _corrupt_record STRING"
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    // cache first: the corrupt-record column can't be queried alone
    permissive.cache()
    try {
      assert(permissive.count() == 3)
      assert(permissive.filter($"_corrupt_record".isNotNull).count() == 1)
      assert(permissive.filter($"id".isNotNull).count() == 2)
    } finally { permissive.unpersist(); () }
    val dropped = spark.read.schema("id LONG, v DOUBLE")
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() == 2)
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.schema("id LONG, v DOUBLE")
        .option("mode", "FAILFAST").json(dir).count()
    }
    assert(ex.getMessage != null)
  }

  test("gzip text input decompresses transparently") {
    import spark.implicits._
    val dir = tempDir("graft_gz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/part.txt.gz"))
    out.write("alpha\nbeta\ngamma\n".getBytes("UTF-8"))
    out.close()
    val lines = spark.read.text(dir).as[String].collect().toSet
    assert(lines == Set("alpha", "beta", "gamma"),
      s"gzip text not decoded: $lines")
  }

  test("Tables.events normalizes all three ts parquet encodings to TimestampType") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // The driver's testdata generator has shipped events.ts as
    // TIMESTAMP(NANOS) (read as LONG under nanosAsLong), as
    // timestamp[us] without timezone (read as TIMESTAMP_NTZ), and as
    // timestamp[us] with timezone (TimestampType). A generator change
    // from the first to the second silently broke every
    // unix_micros/timestamp-comparison query in round 6 — pin all
    // three here so the loader keeps absorbing the drift.
    val us = 1724112000000000L // 2024-08-20T00:00:00Z in micros
    def writeFixture(sub: String)(df: org.apache.spark.sql.DataFrame): String = {
      val dir = s"$tmpRoot/ts-enc/$sub"
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val asLong = writeFixture("nanos") {
      Seq((1L, us * 1000L)).toDF("event_id", "ts") // nanos-as-LONG shape
    }
    val asNtz = writeFixture("ntz") {
      Seq(Tuple1(1L)).toDF("event_id")
        .withColumn("ts", timestamp_micros(lit(us)).cast(TimestampNTZType))
    }
    val asTz = writeFixture("tz") {
      Seq(Tuple1(1L)).toDF("event_id")
        .withColumn("ts", timestamp_micros(lit(us)))
    }
    for ((dir, enc) <- Seq(asLong -> "long", asNtz -> "ntz", asTz -> "tz")) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$enc encoding not normalized: ${ev.schema("ts").dataType}")
      val got = ev.select(unix_micros($"ts")).as[Long].head()
      assert(got == us, s"$enc encoding lost the instant: $got != $us")
    }
    // the normalization is loader-wide, not events-specific: any table
    // whose generator flips a timestamp column to NTZ (orders.o_orderdate
    // and lineitem.l_shipdate share the shape) reads back TimestampType
    val ordDir = writeFixture("orders-ntz") {
      Seq(Tuple1(1L)).toDF("o_orderkey")
        .withColumn("o_orderdate", timestamp_micros(lit(us)).cast(TimestampNTZType))
    }
    // reuse the generic loader under the orders table name
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$ordDir/events.parquet"),
      java.nio.file.Paths.get(s"$ordDir/orders.parquet"))
    val ord = Tables.orders(spark, ordDir)
    assert(ord.schema("o_orderdate").dataType == TimestampType,
      s"loader-wide NTZ normalization missing: ${ord.schema("o_orderdate").dataType}")
    assert(ord.select(unix_micros($"o_orderdate")).as[Long].head() == us)
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    val dir = tempDir("graft-evolve")
    // generation 1: (id, a); generation 2 adds a column (id, a, b) — the
    // shape a long-lived 100 TB corpus takes as pipelines add fields
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.mode("append").parquet(dir)
    Seq((3L, "z", 30L)).toDF("id", "a", "b")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"),
      s"merged schema wrong: ${merged.columns.mkString(",")}")
    val rows = merged.orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq == Seq((1L, "x", None), (2L, "y", None), (3L, "z", Some(30L))),
      "old-generation rows must read the new column as null")
  }
}
