package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.table` infers a table's schema once per session: a read of an
  * unchanged table supplies the remembered schema and starts no Spark job,
  * while a rewrite, a different `nanosAsLong` value or another session
  * infers afresh. */
class TablesSchemaMemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs started by `body`. A marker job run afterwards bounds the
    * count: the listener bus delivers in order, so once the marker's start
    * arrives every job `body` started has been seen. */
  private def jobsStarted[A](s: SparkSession)(body: => A): (A, Int) = {
    val marker = s"tables-memo-marker-${System.nanoTime}"
    val counted = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen = true
        else if (!markerSeen) counted.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val out = body
      s.sparkContext.setJobDescription(marker)
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!markerSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
      (out, counted.get)
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A parquet `events` table whose `ts` is TIMESTAMP(NANOS), the shape
    * Spark cannot write itself, so it is written with parquet-mr. */
  private def nanosEvents(dir: String, nanos: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required binary event_type (STRING); " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-00000.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_type", s"type_${i % 2}").append("ts", ns))
    } finally writer.close()
  }

  test("a second read of an unchanged table starts no job and matches a plain read") {
    val dir = tempDir("graft_memo_hit")
    spark.range(40).selectExpr("id", "cast(id * 1.5 AS double) AS x", "concat('k', id % 3) AS k")
      .write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsStarted(spark)(Tables.table(spark, dir, "t"))
    assert(first >= 1, "the first read infers the schema with a job")
    val (again, second) = jobsStarted(spark)(Tables.table(spark, dir, "t"))
    assert(second == 0, s"a remembered schema must not start a job, got $second")
    val plain = spark.read.parquet(s"$dir/t.parquet")
    assert(again.schema == plain.schema)
    assert(rows(again) == rows(plain))
  }

  test("an in-place overwrite with a different schema is read with the new schema") {
    val dir = tempDir("graft_memo_rewrite")
    spark.range(10).selectExpr("id", "id * 2 AS y").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "y"))
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "y")) // from the memo
    spark.range(5).selectExpr("concat('v', id) AS name", "id % 2 = 0 AS even")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t")
    assert(after.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(after.columns.toSeq == Seq("name", "even"))
    assert(after.count() == 5)
  }

  test("a missing table raises the same exception type as a plain read") {
    val dir = tempDir("graft_memo_missing")
    val plain = intercept[Exception](spark.read.parquet(s"$dir/absent.parquet"))
    val viaTables = intercept[Exception](Tables.table(spark, dir, "absent"))
    assert(viaTables.getClass == plain.getClass)
  }

  test("events yields a TimestampType ts from both the NANOS and the NTZ shapes") {
    val nanos = Seq(1704110400123456789L, 1704196800000001000L, 1704283200999999999L)
    val nanosDir = tempDir("graft_memo_nanos")
    nanosEvents(nanosDir, nanos)
    val ntzDir = tempDir("graft_memo_ntz")
    spark.createDataFrame(
      spark.sparkContext.parallelize(nanos.zipWithIndex.map { case (ns, i) =>
        Row(s"type_${i % 2}", java.time.LocalDateTime.ofEpochSecond(
          ns / 1000000000L, (ns % 1000000000L / 1000L * 1000L).toInt, java.time.ZoneOffset.UTC))
      }),
      StructType(Seq(StructField("event_type", StringType), StructField("ts", TimestampNTZType))))
      .write.parquet(s"$ntzDir/events.parquet")

    for (_ <- 1 to 2) { // the second round reads through remembered schemas
      val fromNanos = Tables.events(spark, nanosDir) // sets nanosAsLong
      val fromNtz = Tables.events(spark, ntzDir)
      assert(Tables.table(spark, nanosDir, "events").schema("ts").dataType == LongType)
      assert(Tables.table(spark, ntzDir, "events").schema("ts").dataType == TimestampNTZType)
      assert(fromNanos.schema("ts").dataType == TimestampType)
      assert(fromNtz.schema("ts").dataType == TimestampType)
      assert(rows(fromNanos) == rows(fromNtz))
      val cutoff = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704196800L))
      assert(Tables.eventsSince(spark, nanosDir, cutoff).count() == 2)
      assert(Tables.eventsUntil(spark, ntzDir, cutoff).count() == 1)
    }
  }

  test("another nanosAsLong value, in this session or a new one, does not get the entry") {
    val dir = tempDir("graft_memo_session")
    nanosEvents(dir, Seq(1704110400123456789L))
    Tables.events(spark, dir)
    assert(spark.conf.get(NanosAsLong) == "true")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)

    def tsUnderFalse(s: SparkSession) = {
      val inferred = scala.util.Try(Tables.table(s, dir, "events").schema("ts").dataType)
      val plain = scala.util.Try(s.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
      assert(!inferred.toOption.contains(LongType), "inferred under the remembered conf")
      assert(inferred.toOption == plain.toOption)
    }
    ScopedConf.run(spark, NanosAsLong, "false")(tsUnderFalse(spark))
    val other = spark.newSession()
    other.conf.set(NanosAsLong, "false")
    tsUnderFalse(other)
  }
}
