package graft

import java.nio.file.{Files, Path, Paths}

import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The per-session source catalog of [[graft.sources.Tables]]: an
  * unchanged input is served from its entry, a rewritten one is
  * resolved again, sessions never share a frame, and nanosAsLong is
  * set only for an input that stores TIMESTAMP(NANOS).
  */
class SourceCatalogSpec extends SparkSpecBase {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A fresh dir holding a copy of the sf0.001 `documents`, a path no
    * catalog entry can predate.
    */
  private def withDocuments(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("catalog")
    Files.copy(Paths.get(sf, "documents.parquet"), dir.resolve("documents.parquet"))
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("an unchanged input is served from its entry: the same frame, no job") {
    withDocuments { dir =>
      val resolutions = Tables.resolutions
      val first = Tables.documents(spark, dir)
      assert(Tables.resolutions == resolutions + 1)
      val hits = Tables.hits
      val (jobs, second) = jobsDuring(Tables.documents(spark, dir))
      assert(second eq first)
      assert(jobs == 0)
      assert(Tables.hits == hits + 1 && Tables.resolutions == resolutions + 1)
    }
  }

  test("a rewrite at the same path is resolved again and its rows are read") {
    withDocuments { dir =>
      import org.apache.spark.sql.functions.col
      val first = Tables.documents(spark, dir)
      assert(first.count() == 500)
      Tables.documents(spark, sf).filter(col("doc_id") < 123)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val resolutions = Tables.resolutions
      val second = Tables.documents(spark, dir)
      assert(Tables.resolutions == resolutions + 1)
      assert(!(second eq first))
      assert(second.count() == 123)
      assert(Tables.documents(spark, dir) eq second)
    }
  }

  test("two sessions never share a frame") {
    withDocuments { dir =>
      val other = spark.newSession()
      val mine = Tables.documents(spark, dir)
      val theirs = Tables.documents(other, dir)
      assert(!(mine eq theirs))
      assert(theirs.sparkSession eq other)
      assert(Tables.documents(other, dir) eq theirs)
      assert(Tables.documents(spark, dir) eq mine)
    }
  }

  test("concurrent first calls for one input all get one frame") {
    withDocuments { dir =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val calls = (1 to 8).map(_ => pool.submit(
          new java.util.concurrent.Callable[AnyRef] {
            def call(): AnyRef = Tables.documents(spark, dir)
          }))
        val frames = calls.map(_.get)
        assert(frames.forall(_ eq Tables.documents(spark, dir)))
      } finally pool.shutdownNow()
    }
  }

  test("micros events: reading sf0.001 leaves nanosAsLong at its prior value") {
    val s = spark.newSession()
    val prior = s.conf.getOption(NanosAsLong)
    val resolutions = Tables.resolutions
    val ev = Tables.events(s, sf)
    assert(Tables.resolutions == resolutions + 1)
    assert(ev.count() == 1000)
    assert(s.conf.getOption(NanosAsLong) == prior)
    assert(Tables.events(s, sf) eq ev)
  }

  /** Writes `$dir/events.parquet` with parquet-mr: `event_id` and a `ts`
    * column of the given physical unit, not adjusted to UTC, as the
    * driver-generated datasets store it.
    */
  private def writeEvents(dir: Path, unit: String, ts: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,false)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
  }

  test("nanos events: nanosAsLong is set on resolution, and ts/ts_ns read as in the micros spelling") {
    val micros = Seq(
      Tables.epochNanos("2024-01-01T00:00:00Z") / 1000L,
      Tables.epochNanos("2024-06-30T12:34:56.789012Z") / 1000L,
      Tables.epochNanos("1999-12-31T23:59:59.999999Z") / 1000L)
    val (nanosDir, microsDir) =
      (Files.createTempDirectory("events-nanos"), Files.createTempDirectory("events-micros"))
    try {
      writeEvents(nanosDir, "NANOS", micros.map(_ * 1000L))
      writeEvents(microsDir, "MICROS", micros)
      // a session of its own: the setting must not leak into other specs
      val s: SparkSession = spark.newSession()
      def read(dir: Path) = Tables.events(s, dir.toString)
        .orderBy("event_id").select("ts", "ts_ns").collect().toSeq
      val fromMicros = read(microsDir)
      assert(s.conf.getOption(NanosAsLong).forall(_ == "false"))
      val fromNanos = read(nanosDir)
      assert(s.conf.get(NanosAsLong) == "true")
      assert(fromNanos == fromMicros)
      assert(fromNanos.map(_.getLong(1)) == micros.map(_ * 1000L))
      assert(Tables.table(s, nanosDir.toString, "events").schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
    } finally Seq(nanosDir, microsDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }
}
