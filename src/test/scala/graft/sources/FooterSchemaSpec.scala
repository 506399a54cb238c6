package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.verify.Comparator

/** `FixtureSource.table` reads a single file's schema from its parquet
  * footer on the driver. That schema must be exactly the one Spark's
  * own inferring read builds, and every case where the two could
  * differ must take the inferring read instead.
  */
class FooterSchemaSpec extends SparkSpec {

  /** Every fixture directory in the checkout and beside the test data. */
  private lazy val fixtureDirs: Seq[File] = {
    def sfDirs(root: File) = Option(root.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
    sfDirs(new File(sfDir).getParentFile) ++ sfDirs(new File("perfbench/fixtures"))
  }

  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmpDir(prefix: String): File = Files.createTempDirectory(prefix).toFile

  /** Writes `df` as ONE parquet file at `file` (Spark writes a
    * directory; its single part file is moved into place).
    */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, file: File): Unit = {
    val staging = new File(file.getParentFile, file.getName + ".staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = staging.listFiles().filter(_.getName.startsWith("part-")).head
    Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(staging)
  }

  test("footer schema equals the inferred schema for every fixture table") {
    val dirs = fixtureDirs
    assert(dirs.exists(_.getCanonicalPath == new File(sfDir).getCanonicalPath), dirs)
    assert(dirs.exists(_.getPath.startsWith("perfbench")), dirs)
    val checked = for {
      dir <- dirs
      t <- FixtureSource(dir.toString).tableNames(spark)
    } yield {
      val path = s"$dir/$t.parquet"
      assert(ParquetSchemaBridge.footerSchema(spark, path) === Some(inferred(path)), path)
      assert(FixtureSource(dir.toString).table(spark, t).schema === inferred(path), path)
      t
    }
    assert(checked.size === dirs.size * 10)
  }

  test("both events.parquet timestamp vintages: plain MICROS and NANOS") {
    // MICROS vintage (the fixtures): TIMESTAMP_NTZ, or TIMESTAMP once
    // NTZ inference is off — the footer read follows the session conf
    val micros = s"$sfDir/events.parquet"
    assert(ParquetSchemaBridge.footerSchema(spark, micros).get("ts").dataType ===
      TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      assert(ParquetSchemaBridge.footerSchema(spark, micros) === Some(inferred(micros)))
      assert(inferred(micros)("ts").dataType === TimestampType)
    }
    // NANOS vintage: written by a non-Spark writer, surfaced as a long
    // under the session's nanosAsLong flag
    val nanos = new File(tmpDir("graft_nanos"), "events.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new Path(nanos.toString), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val footer = ParquetSchemaBridge.footerSchema(spark, nanos.toString)
    assert(footer === Some(inferred(nanos.toString)))
    assert(footer.get("ts").dataType === LongType)
    assert(FixtureSource(nanos.getParent).table(spark, "events").schema === footer.get)
    assert(FixtureSource(nanos.getParent).table(spark, "events")
      .collect().map(_.getLong(1)).toSeq === Seq(1700000000123456789L))
  }

  test("a Spark-written single file keeps its Spark row metadata") {
    import spark.implicits._
    val dir = tmpDir("graft_sparkmeta")
    val md = new MetadataBuilder().putString("comment", "kept").build()
    writeSingleFile(Seq((1L, "a")).toDF("id", "s").select(col("id"), col("s").as("s", md)),
      new File(dir, "t.parquet"))
    val path = s"$dir/t.parquet"
    val footer = ParquetSchemaBridge.footerSchema(spark, path)
    assert(footer === Some(inferred(path)))
    assert(footer.get("s").metadata.getString("comment") === "kept")
  }

  test("a directory table and mergeSchema=true take the inferring read") {
    import spark.implicits._
    val dir = tmpDir("graft_dirtable")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2)
      .write.parquet(s"$dir/t.parquet")
    assert(ParquetSchemaBridge.footerSchema(spark, s"$dir/t.parquet") === None)
    assert(FixtureSource(dir.toString).table(spark, "t").schema === inferred(s"$dir/t.parquet"))
    assert(FixtureSource(dir.toString).table(spark, "t").count() === 2L)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(ParquetSchemaBridge.footerSchema(spark, s"$sfDir/region.parquet") === None)
      assert(FixtureSource(sfDir).table(spark, "region").schema ===
        inferred(s"$sfDir/region.parquet"))
    }
    // a missing table keeps Spark's own error
    intercept[org.apache.spark.sql.AnalysisException](FixtureSource(dir.toString).table(spark, "nope"))
    // a name Spark's file listing hides keeps Spark's own behaviour
    Files.copy(new File(s"$sfDir/region.parquet").toPath, new File(dir, "_hidden.parquet").toPath)
    assert(ParquetSchemaBridge.footerSchema(spark, s"$dir/_hidden.parquet") === None)
    assert(scala.util.Try(FixtureSource(dir.toString).table(spark, "_hidden").collect().toSeq)
      .toOption === scala.util.Try(spark.read.parquet(s"$dir/_hidden.parquet").collect().toSeq).toOption)
  }

  test("a truncated parquet file fails loudly at table()") {
    val dir = tmpDir("graft_truncated")
    val bytes = Files.readAllBytes(new File(s"$sfDir/region.parquet").toPath)
    Files.write(new File(dir, "region.parquet").toPath, bytes.take(bytes.length - 20))
    intercept[Exception](FixtureSource(dir.toString).table(spark, "region"))
  }

  test("a tampered single-file destination still fails the checksum") {
    val dest = tmpDir("graft_tamper_file")
    val src = FixtureSource(sfDir)
    Files.copy(new File(s"$sfDir/nation.parquet").toPath, new File(dest, "nation.parquet").toPath)
    assert(Comparator.compareChecksums(spark, src, FixtureSource(dest.toString), "nation"))
    val tampered = src.table(spark, "nation").withColumn("n_name",
      when(col("n_nationkey") === 0, lit("tampered")).otherwise(col("n_name")))
      .localCheckpoint()
    writeSingleFile(tampered, new File(dest, "nation.parquet"))
    assert(src.table(spark, "nation").schema === FixtureSource(dest.toString).table(spark, "nation").schema)
    assert(!Comparator.compareChecksums(spark, src, FixtureSource(dest.toString), "nation"))
  }
}
