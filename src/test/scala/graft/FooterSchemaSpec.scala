package graft

import graft.api.{Df, FooterSchema}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.api.FooterSchema]]: the driver-side footer read must give the
  * frame `spark.read.parquet` gives — same schema with nullability and
  * field metadata, same partition columns, same errors — while running
  * no Spark job. */
class FooterSchemaSpec extends AnyFunSuite {
  import TestSpark._

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** a test-data scale directory beside [[TestSpark.sf]] */
  private def scaleDir(name: String): String = Paths.get(sf).resolveSibling(name).toString

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `FooterSchema.read` and the inferring read agree on `path`'s schema
    * (StructField equality covers nullability and metadata) */
  private def assertSame(path: String): Unit = {
    val plain = spark.read.parquet(path)
    val ours = FooterSchema.read(spark, path)
    assert(ours.schema == plain.schema,
      s"$path\nfooter:   ${ours.schema.json}\ninferred: ${plain.schema.json}")
  }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally old.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  /** a one-column parquet file whose ts is INT64 TIMESTAMP(NANOS), the
    * encoding that reads as long only under `nanosAsLong` */
  private lazy val nanosFile: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val file = s"${tmp("graft_footer_nanos")}/events.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704067200123456789L))
    finally w.close()
    file
  }

  for (scale <- Seq("sf0.01", "sf0.1"); t <- tables)
    test(s"$scale/$t: footer schema equals the inferred schema") {
      assertSame(s"${scaleDir(scale)}/$t.parquet")
    }

  test("events under nanosAsLong true and false") {
    for (flag <- Seq("true", "false")) withConf(
        "spark.sql.legacy.parquet.nanosAsLong" -> flag) {
      assertSame(s"${scaleDir("sf0.01")}/events.parquet")
    }
  }

  test("TIMESTAMP(NANOS): long under nanosAsLong, Spark's own error without it") {
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertSame(nanosFile)
      assert(FooterSchema.read(spark, nanosFile).schema("ts").dataType == LongType)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val plain = intercept[Exception](spark.read.parquet(nanosFile))
      val ours = intercept[Exception](FooterSchema.read(spark, nanosFile))
      assert(ours.getClass == plain.getClass, s"$ours vs $plain")
    }
  }

  test("Spark-written file: row metadata, field metadata and non-null fields") {
    val meta = new MetadataBuilder().putString("comment", "kept").putLong("n", 7L).build()
    val path = s"${tmp("graft_footer_meta")}/t.parquet"
    spark.range(5)
      .select(col("id"), col("id").cast("string").as("s", meta),
        struct(col("id").as("a"), lit(1.5).as("b")).as("nested"))
      .write.parquet(path)
    assertSame(path)
    assert(FooterSchema.read(spark, path).schema("s").metadata == meta)
  }

  test("partitionBy layout (cell= directories, _SUCCESS and .crc files)") {
    val path = s"${tmp("graft_footer_part")}/index"
    spark.range(40).select(col("id").as("vec_id"), (col("id") % 4).cast("int").as("cell"),
        array(col("id").cast("float")).as("embedding"))
      .write.partitionBy("cell").parquet(path)
    val names = Files.walk(Paths.get(path)).toArray.map(_.toString)
    assert(names.exists(_.endsWith("_SUCCESS")) && names.exists(_.endsWith(".crc")) &&
      names.exists(_.contains("cell=3")), names.mkString("\n"))
    assertSame(path)
    assert(FooterSchema.read(spark, path).columns.toSeq == Seq("vec_id", "embedding", "cell"))
    // a nested partition directory taken as the root is an ordinary table
    assertSame(s"$path/cell=2")
  }

  test("directory with _SUCCESS, .crc and hidden files beside the data") {
    val dir = tmp("graft_footer_hidden")
    spark.range(3).select(col("id"), lit("x").as("tag")).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    // files Spark's listing skips, each holding a DIFFERENT schema: a pick
    // that read any of them would diverge from the inferred schema
    val other = Paths.get(scaleDir("sf0.01"), "region.parquet")
    for (n <- Seq(".hidden.parquet", "_ignored.parquet", "a.parquet._COPYING_"))
      Files.copy(other, Paths.get(dir, n))
    assertSame(dir)
    assert(FooterSchema.read(spark, dir).columns.toSeq == Seq("id", "tag"))
  }

  test("summary files win the pick: _common_metadata, then _metadata") {
    val dir = tmp("graft_footer_summary")
    val src = Paths.get(scaleDir("sf0.01"))
    Files.copy(src.resolve("lineitem.parquet"), Paths.get(dir, "part-0.parquet"))
    Files.copy(src.resolve("region.parquet"), Paths.get(dir, "_metadata"))
    assertSame(dir)
    assert(FooterSchema.read(spark, dir).columns.toSeq ==
      spark.read.parquet(s"$src/region.parquet").columns.toSeq)
    Files.copy(src.resolve("nation.parquet"), Paths.get(dir, "_common_metadata"))
    assertSame(dir)
    assert(FooterSchema.read(spark, dir).columns.toSeq ==
      spark.read.parquet(s"$src/nation.parquet").columns.toSeq)
  }

  test("no file to read: Spark's own error, unchanged") {
    def sameError(path: String): Unit = {
      assert(FooterSchema.resolve(spark, path).isEmpty)
      val plain = intercept[AnalysisException](spark.read.parquet(path))
      val ours = intercept[AnalysisException](FooterSchema.read(spark, path))
      assert(ours.getCondition == plain.getCondition && ours.getMessage == plain.getMessage,
        s"${ours.getMessage}\nvs\n${plain.getMessage}")
    }
    val empty = tmp("graft_footer_empty")
    sameError(empty)
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    sameError(empty)
    sameError(s"$empty/missing.parquet")
  }

  test("mergeSchema=true takes the fallback and still merges") {
    val dir = tmp("graft_footer_merge")
    spark.range(2).select(col("id"), lit(1).as("a")).write.parquet(s"$dir/k=1")
    spark.range(2).select(col("id"), lit("b").as("b")).write.parquet(s"$dir/k=2")
    assertSame(dir) // mergeSchema off: the first file's schema, both ways
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(FooterSchema.resolve(spark, dir).isEmpty)
      assertSame(dir)
      assert(FooterSchema.read(spark, dir).columns.toSet == Set("id", "a", "b", "k"))
    }
  }

  test("Df.readParquet and StreamOps.readEventsStream run no Spark job") {
    val (li, readJobs) = jobsDuring(Df.readParquet(spark, s"$sf/lineitem.parquet"))
    assert(readJobs == 0, s"Df.readParquet ran $readJobs job(s)")
    assert(li.sdf.schema == spark.read.parquet(s"$sf/lineitem.parquet").schema)
    val (_, pickJobs) = jobsDuring(Df.readParquet(spark, s"$sf/orders.parquet",
      Seq("o_orderkey", "o_totalprice")))
    assert(pickJobs == 0, s"column-picking readParquet ran $pickJobs job(s)")

    val dir = tmp("graft_footer_stream")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(dir, "events.parquet"))
    // the first open runs the per-JVM, per-path ts plausibility probe
    // (one limit-1 job); every later open of the path runs none
    graft.streaming.StreamOps.readEventsStream(spark, dir)
    val (stream, streamJobs) = jobsDuring(graft.streaming.StreamOps.readEventsStream(spark, dir))
    assert(streamJobs == 0, s"readEventsStream ran $streamJobs job(s) after the probe")
    assert(stream.isStreaming && stream.schema("ts").dataType == TimestampType)
  }
}
