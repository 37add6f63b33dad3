package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .getOrCreate()
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Data-file lines of a versioned manifest (comments stripped) — shared
    * by the versioned-table specs so the manifest format lives in ONE
    * place test-side. */
  protected def manifestOf(root: String, v: Long): Seq[String] = {
    val p = java.nio.file.Paths.get(root, "_manifests", s"v$v.txt")
    new String(java.nio.file.Files.readAllBytes(p)).split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** Four single-file commits whose id sets INTERLEAVE (id % 4 == batch):
    * every file's [min,max] covers ~the whole domain, so min/max stats
    * cannot prune a point lookup — only the bloom can. */
  protected def interleavedTable(bloom: Boolean): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bloom").toFile
    d.deleteOnExit()
    val root = d.getAbsolutePath
    (0 until 4).foreach { m =>
      graft.io.Versioned.commit(spark,
        (0L until 400L).filter(_ % 4 == m).map(i => (i, s"v$i")).toDF("id", "v")
          .coalesce(1),
        root, statsCols = Seq("id"),
        bloomCols = if (bloom) Seq("id") else Nil)
    }
    root
  }
}
