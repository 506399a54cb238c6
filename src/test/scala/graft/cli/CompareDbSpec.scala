package graft.cli

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.FixtureSource

/** `compareDb --deep`'s report keeps a checksum that could not be
  * computed apart from one that differs.
  */
class CompareDbSpec extends SparkSpec {

  test("checksumReport: a mismatch and an unreadable or missing table are reported apart") {
    val dest = Files.createTempDirectory("graft_cli_deep").toFile
    val src = FixtureSource(sfDir)
    Files.copy(new File(s"$sfDir/region.parquet").toPath, new File(dest, "region.parquet").toPath)
    // nation: one row dropped (a directory table)
    src.table(spark, "nation").filter(col("n_nationkey") =!= 0)
      .write.parquet(s"$dest/nation.parquet")
    // part: not parquet at all
    Files.write(new File(dest, "part.parquet").toPath, "not parquet".getBytes("UTF-8"))
    val dst = FixtureSource(dest.toString)
    assert(Main.checksumReport(spark, src, dst, Seq("region")) === Nil)
    val lines = Main.checksumReport(spark, src, dst, Seq("nation", "part", "region", "supplier"))
    assert(lines.size === 3, lines)
    assert(lines.head === "CHECKSUM MISMATCH: nation")
    assert(lines(1).startsWith("CHECKSUM FAILED: part: "), lines(1))
    assert(lines(2).startsWith("CHECKSUM FAILED: supplier: "), lines(2))
    assert(lines(2).contains("supplier.parquet"), lines(2))
  }
}
