package graft

class TablesSpec extends SparkSpec {

  test("Tables.rowCount counts exactly the files the parquet scan reads, with no job") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
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
}
