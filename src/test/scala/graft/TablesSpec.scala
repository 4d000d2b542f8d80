package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType

import graft.sources.{CsvSource, JsonSource, SchemaInfer}

class TablesSpec extends SparkSpec {

  private val fixtures = Seq("lineitem", "orders", "customer", "part", "supplier",
    "nation", "region", "events", "documents", "embeddings")

  /** `df` written as the single parquet file `dst` (a table like
    * `events.parquet`), replacing what is there. The modification time is
    * moved past the old file's, so a rewrite within the same millisecond
    * still reads as a change. */
  private def writeFile(df: DataFrame, dst: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_tables_w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    val old = if (Files.exists(dst)) Files.getLastModifiedTime(dst).toMillis else 0L
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(
      math.max(old + 2000L, System.currentTimeMillis())))
  }

  /** A session on the shared context with `nanosAsLong` set to `on`. */
  private def nanosSession(on: Boolean): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", on.toString)
    ss
  }

  test("Tables.rowCount counts exactly the files the parquet scan reads, with no job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables").toString
    val table = Paths.get(s"$dir/t.parquet")
    (1L to 7L).toDF("k").coalesce(1).write.parquet(table.toString)
    val part = Files.list(table).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    // copies Spark's file listing skips: an uncommitted task output under
    // `_temporary/` and a hidden file
    val tmp = table.resolve("_temporary/0")
    Files.createDirectories(tmp)
    Files.copy(part, tmp.resolve("part-x.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(part, table.resolve(".hidden.parquet"))
    val scanned = spark.read.parquet(table.toString).count()
    assert(scanned == 7L)
    var counted = 0L
    val run = ran { counted = Tables.rowCount(spark, dir, "t") }
    assert(counted == scanned)
    assert(run.jobs.isEmpty && run.actions.isEmpty, run)
  }

  test("Tables.apply gives every fixture table the schema spark.read.parquet infers, under both nanosAsLong values") {
    for (on <- Seq(true, false)) {
      val ss = nanosSession(on)
      for (t <- fixtures) {
        val inferred = ss.read.parquet(s"$sf/$t.parquet").schema
        assert(Tables(ss, sf, t).schema == inferred, s"$t, nanosAsLong=$on")
      }
    }
  }

  test("a table read runs no job or action, the first read included, and opens its footer once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_read").toString
    // a Spark-written table directory: several part files and a _SUCCESS
    (1L to 40L).map(k => (k, k.toDouble)).toDF("k", "v").repartition(3)
      .write.parquet(s"$dir/t.parquet")
    val before = Tables.footerReads.get
    val first = ran { Tables(spark, dir, "t") }
    assert(first.jobs.isEmpty && first.actions.isEmpty, first)
    assert(Tables.footerReads.get == before + 1, "the first read opens one footer")
    val second = ran { Tables(spark, dir, "t") }
    assert(second.jobs.isEmpty && second.actions.isEmpty, second)
    assert(Tables.footerReads.get == before + 1, "a second read opens no footer")
    assert(Tables(spark, dir, "t").schema == spark.read.parquet(s"$dir/t.parquet").schema)
    val fixture = ran { Tables.lineitem(spark, sf); Tables.events(spark, sf) }
    assert(fixture.jobs.isEmpty && fixture.actions.isEmpty, fixture)
  }

  test("a table rewritten with an added column reads with its new schema and count") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_evolve").toString
    val file = Paths.get(s"$dir/t.parquet")
    writeFile((1L to 5L).toDF("k"), file)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("k"))
    assert(Tables.rowCount(spark, dir, "t") == 5L)
    writeFile((1L to 9L).map(k => (k, s"v$k")).toDF("k", "added"), file)
    val read = Tables(spark, dir, "t")
    assert(read.columns.toSeq == Seq("k", "added"))
    assert(read.schema == spark.read.parquet(file.toString).schema)
    assert(read.count() == 9L)
    assert(Tables.rowCount(spark, dir, "t") == 9L)
  }

  test("footerCount: a repeated count opens no footer, a rewritten file is counted again") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_count").toString
    val file = Paths.get(s"$dir/t.parquet")
    writeFile((1L to 7L).toDF("k"), file)
    val before = Tables.footerReads.get
    assert(Tables.footerCount(spark.read.parquet(file.toString)).contains(7L))
    assert(Tables.footerReads.get == before + 1)
    assert(Tables.footerCount(spark.read.parquet(file.toString)).contains(7L))
    assert(Tables.footerReads.get == before + 1, "an unchanged file is not opened again")
    writeFile((1L to 11L).toDF("k"), file)
    assert(Tables.footerCount(spark.read.parquet(file.toString)).contains(11L))
    assert(Tables.footerReads.get == before + 2)
    assert(Tables.footerCount(spark.read.parquet(file.toString).filter($"k" > 3)).isEmpty)
  }

  test("an INT64 TIMESTAMP(NANOS) column reads as LongType under nanosAsLong=true and as Spark infers it under false") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    // 2024-01-01T00:00:00.000001 and 2024-01-01T00:00:01, in epoch nanos
    val nanos = Seq(1704067200000001000L, 1704067201000000000L)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()
    val path = s"$dir/events.parquet"

    val on = nanosSession(true)
    assert(Tables(on, dir, "events").schema("ts").dataType == LongType)
    assert(Tables(on, dir, "events").schema == on.read.parquet(path).schema)
    val ts = Tables.events(on, dir).orderBy("event_id").collect().map(_.getAs[java.time.LocalDateTime]("ts"))
    assert(ts.toSeq == Seq(java.time.LocalDateTime.parse("2024-01-01T00:00:00.000001"),
      java.time.LocalDateTime.parse("2024-01-01T00:00:01")))

    // the footer is cached by now: a session with the conf off must still
    // get what its own inference gives, not the other session's LongType
    val off = nanosSession(false)
    val inferred = scala.util.Try(off.read.parquet(path).schema)
    val viaTables = scala.util.Try(Tables(off, dir, "events").schema)
    (inferred, viaTables) match {
      case (scala.util.Success(a), scala.util.Success(b)) => assert(a == b)
      case (scala.util.Failure(a), scala.util.Failure(b)) =>
        assert(a.getClass == b.getClass && a.getMessage == b.getMessage, (a, b))
      case other => fail(s"inference and Tables.apply disagree: $other")
    }
  }

  test("a missing path or an empty directory fails as spark.read.parquet fails") {
    val dir = Files.createTempDirectory("graft_tables_missing").toString
    Files.createDirectory(Paths.get(s"$dir/empty.parquet"))
    for (t <- Seq("absent", "empty")) {
      val spark_ = intercept[Exception](spark.read.parquet(s"$dir/$t.parquet"))
      val tables = intercept[Exception](Tables(spark, dir, t))
      assert(tables.getClass == spark_.getClass, (t, tables, spark_))
    }
  }

  test("CSV, JSON and mergeSchema reads run their inference job on every build") {
    import spark.implicits._
    // first builds: the derived CSV/JSONL copies are written here
    CsvSource.qCsvScan(spark, sf)
    JsonSource.qJsonScan(spark, sf)
    val base = Files.createTempDirectory("graft_tables_merge").toString
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$base/v1")
    Seq((2L, "b", 1.0)).toDF("k", "s", "x").write.parquet(s"$base/v2")
    SchemaInfer.readEvolved(spark, s"$base/v1", s"$base/v2")
    val csv = ran { CsvSource.qCsvScan(spark, sf) }
    assert(csv.jobs.exists(_.contains("CsvSource.scala")), csv)
    val json = ran { JsonSource.qJsonScan(spark, sf) }
    assert(json.jobs.exists(_.contains("JsonSource.scala")), json)
    val merged = ran {
      assert(SchemaInfer.readEvolved(spark, s"$base/v1", s"$base/v2").columns.toSeq ==
        Seq("k", "s", "x"))
    }
    assert(merged.jobs.exists(_.contains("SchemaInfer.scala")), merged)
  }
}
