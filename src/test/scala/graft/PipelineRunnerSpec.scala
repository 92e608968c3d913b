package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types._
import graft.pivot.PivotOps
import graft.sources.{AvroSink, AvroSource, ExamplePipeline, PipelineRunner}

import scala.jdk.CollectionConverters._

/** Runs the reference's example pipeline JSON end-to-end (a
  * reconstruction of examples/pivot_file_source_sink_example-cdap-data-
  * pipeline.json with its sample_data.csv, carried as resources by
  * [[ExamplePipeline]]) through the Spark runner — config-level
  * compatibility: a reference user's pipeline file works verbatim. */
class PipelineRunnerSpec extends SparkSpec {

  private val exampleJson = ExamplePipeline.json

  /** Sets session confs for the body, then restores the previous values. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Number of completed stages that read input bytes (source scans)
    * while `body` runs. */
  private def scanStages(body: => Unit): Int = {
    val sc = spark.sparkContext
    val scans = new AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.inputMetrics.bytesRead > 0) scans.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    scans.get
  }

  test("avro-style schema converts to StructType with nullable unions") {
    val st = PipelineRunner.avroSchemaToStruct(
      """{"type":"record","name":"t","fields":[
        |{"name":"a","type":"string"},
        |{"name":"b","type":["int","null"]}]}""".stripMargin)
    assert(st == StructType(Seq(
      StructField("a", StringType, nullable = false),
      StructField("b", IntegerType, nullable = true))))
  }

  test("reference example pipeline runs verbatim: csv -> pivot -> sink") {
    val outDir = Files.createTempDirectory("pipeline_out")
    val result = PipelineRunner.run(spark, exampleJson, Map(
      "inputFile" -> ExamplePipeline.writeSampleCsv(outDir),
      "outputDirectory" -> s"$outDir/pivoted"))

    // Quarter(Q1..Q4) x Brand(Nike,Reebok,Addidas) cells, alias "Sum"
    val out = result.main
    assert(out.columns.head == "Product")
    assert(out.columns.length == 1 + 12)
    assert(out.columns.contains("Q1_Nike_Sum") && out.columns.contains("Q4_Addidas_Sum"))

    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("Shoes", "Shirts", "Socks"))
    def cell(p: String, c: String): Any =
      rows(p).get(rows(p).fieldIndex(c))
    assert(cell("Shoes", "Q1_Nike_Sum") == 50)
    assert(cell("Shirts", "Q1_Reebok_Sum") == 60)
    assert(cell("Socks", "Q4_Nike_Sum") == 60)
    assert(cell("Shoes", "Q1_Addidas_Sum") == null) // declared, no data
    assert(cell("Shirts", "Q2_Nike_Sum") == null)   // no Shirts in Q2

    // sink written as REAL avro container files (the example's declared
    // sink format), readable back through the avro source
    assert(Files.list(Paths.get(s"$outDir/pivoted")).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".avro")))
    val written = AvroSource.read(spark, s"$outDir/pivoted")
    assert(written.count() == 3)
    assertRowsMatch(written.select("Product", "Q1_Nike_Sum", "Q1_Reebok_Sum"),
      Seq(Row("Shoes", 50, 50), Row("Shirts", 20, 60), Row("Socks", null, 40)))
  }

  test("writeSink executes its input plan once: one scan stage per write, every format") {
    val tmp = Files.createTempDirectory("graft_sink_scans")
    val p = PipelineRunner.parse(exampleJson, Map(
      "inputFile" -> ExamplePipeline.writeSampleCsv(tmp),
      "outputDirectory" -> s"$tmp/out"))
    withConf("spark.sql.adaptive.enabled" -> "true") {
      val pivoted = PivotOps.pivotConfig(PipelineRunner.readSource(spark, p.source),
        p.pivot.pivotRow, p.pivot.pivotColumns, p.pivot.aggregates).main
      for (format <- Seq("avro", "csv", "json", "orc", "parquet")) {
        val sink = PipelineRunner.SinkStage(s"$tmp/out_$format", format)
        assert(scanStages(PipelineRunner.writeSink(pivoted, sink)) == 1, format)
      }
    }
  }

  test("send-to-error-port run scans the input once per output") {
    val root = new ObjectMapper().readTree(exampleJson)
    root.get("config").get("stages").elements().asScala
      .find(_.get("name").asText() == "Pivot").get
      .get("plugin").get("properties").asInstanceOf[ObjectNode]
      .put("on-error", "send-to-error-port")
    val tmp = Files.createTempDirectory("graft_errport_scans")
    val macros = Map(
      "inputFile" -> ExamplePipeline.writeSampleCsv(tmp),
      "outputDirectory" -> s"$tmp/pivoted")
    withConf("spark.sql.adaptive.enabled" -> "true") {
      // main + errors: the shared aggregate is still computed per write
      assert(scanStages(PipelineRunner.run(spark, root.toString, macros)) == 2)
    }
    assert(AvroSource.read(spark, s"$tmp/pivoted").count() == 3)
    assert(AvroSource.read(spark, s"$tmp/pivoted_errors").count() == 0)
  }

  test("sink writes at most 32 files, as coalesce(min(k, 32)) did") {
    val tmp = Files.createTempDirectory("graft_sink_cap")
    def avroParts(dir: String): Int =
      Files.list(Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".avro"))
    def digest(dir: String): Seq[String] =
      AvroSource.read(spark, dir).collect().map(_.toString).sorted.toSeq
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "64") {
      val wide = spark.range(0, 10000)
        .groupBy((col("id") % 1000).as("k")).agg(sum("id").as("s"))
      val narrow = spark.range(0, 300, 1, 3).selectExpr("id", "id * 2 AS twice")
      for ((name, df, inParts, files) <- Seq(("wide", wide, 64, 32), ("narrow", narrow, 3, 3))) {
        assert(df.rdd.getNumPartitions == inParts, name)
        PipelineRunner.writeSink(df, PipelineRunner.SinkStage(s"$tmp/$name", "avro"))
        AvroSink.write(df.coalesce(math.min(df.rdd.getNumPartitions, 32)), s"$tmp/${name}_min")
        assert(avroParts(s"$tmp/$name") == files, name)
        assert(avroParts(s"$tmp/${name}_min") == files, name)
        assert(digest(s"$tmp/$name") == digest(s"$tmp/${name}_min"), name)
        assert(digest(s"$tmp/$name") == df.collect().map(_.toString).sorted.toSeq, name)
      }
    }
  }

  test("avro sink/source round-trip preserves values, nulls and logical types") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_avro")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("day", DateType, nullable = true),
      StructField("amount", DecimalType(10, 2), nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
      StructField("blob", BinaryType, nullable = true)))
    val rows = Seq(
      Row(1L, "a", 1.5, true,
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456"),
        java.sql.Date.valueOf("2024-02-29"),
        new java.math.BigDecimal("12345.67"),
        Seq("x", null, "y"), Array[Byte](1, 2, 3)),
      Row(2L, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    AvroSink.write(df, s"$tmp/out")
    val back = AvroSource.read(spark, s"$tmp/out")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // toString-compare everything except the byte array (whose toString
    // is a JVM reference); the blob is checked bit-exact below
    val cmpCols = schema.fieldNames.filterNot(_ == "blob").map(col)
    val got = back.orderBy("id").select(cmpCols: _*).collect()
    val exp = df.orderBy("id").select(cmpCols: _*).collect()
    assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
    val blobs = back.orderBy("id").select("blob").collect()
    assert(blobs(0).getAs[Array[Byte]](0).toSeq == Seq[Byte](1, 2, 3))
    assert(blobs(1).getAs[Array[Byte]](0) == null)
  }

  test("orc source and sink round-trip through the runner stages") {
    import graft.sources.PipelineRunner._
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    writeSink(docs, SinkStage(s"$tmp/docs_orc", "orc"))
    val back = readSource(spark,
      SourceStage(s"$tmp/docs_orc", "orc", ",", skipHeader = false, schema = None))
    assert(back.schema == docs.schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }
}
