package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._

/** The blooms a pinned merge source gets from its rows on the driver
  * ([[Versioned.driverBlooms]]) must be byte-for-byte the blooms the
  * harvest pass ([[Versioned.harvestBloomsFor]]) builds from the written
  * file — for every bloom-supported type, an all-null column (no bloom
  * on either side, but still tracked) and both sides of the 64x headroom
  * cap. A differing bit pattern would make a
  * lookup's probe answer differently for the same file, and a false
  * negative prunes a file that holds the key. */
class BloomParitySpec extends graft.SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("str", StringType), StructField("d", DateType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("none", StringType)))

  private def rows(n: Int): Seq[Row] = (0 until n).map { k =>
    Row(if (k % 7 == 3) null else (k % 100).toByte, (k * 3).toShort, if (k % 5 == 0) null else k * 11,
      k.toLong << 33, if (k % 4 == 0) null else s"key-$k-é",
      java.sql.Date.valueOf(java.time.LocalDate.of(1999, 12, 1).plusDays(k)),
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + k * 3601L, k * 1000L)),
      java.time.LocalDateTime.of(2024, 2, 29, 23, 59).plusMinutes(k.toLong),
      null)
  }

  /** (harvested, driver-built) bloom bytes per column for one file of `n`
    * rows. */
  private def both(n: Int): (Map[String, Array[Byte]], Map[String, Array[Byte]]) = {
    val d = java.nio.file.Files.createTempDirectory("graft_bloomparity").toFile
    d.deleteOnExit()
    val dir = new Path(d.getAbsolutePath, "b1")
    val frame = spark.createDataFrame(java.util.Arrays.asList(rows(n): _*), schema)
    frame.coalesce(1).write.parquet(dir.toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(files.size == 1)
    val cols = schema.fieldNames.toSeq
    Versioned.harvestBloomsFor(spark, dir, files, schema, cols)
    val harvested = FileStats.readBloomSidecar(fs, dir).getOrElse(files.head.getName, Map.empty)
    // nulls are skipped: a column with no values gets no bloom, yet the
    // sidecar header still tracks it
    assert(FileStats.readBloomColumns(fs, dir) == cols.toSet)
    val collected = Bridge.collectBounded(frame, Long.MaxValue).toOption.get
    (harvested, Versioned.driverBlooms(spark, collected, schema, cols))
  }

  private def assertSame(n: Int): Map[String, Array[Byte]] = {
    val (harvested, driver) = both(n)
    assert(harvested.keySet == driver.keySet && harvested.keySet == schema.fieldNames.toSet - "none")
    harvested.foreach { case (c, bytes) =>
      assert(java.util.Arrays.equals(bytes, driver(c)), s"bloom bytes of $c differ at $n rows")
    }
    harvested
  }

  test("driver-built blooms equal the harvested ones for every supported type") {
    assert(schema.fields.forall(f => FileStats.bloomSupported(f.dataType)))
    val small = assertSame(40)
    // an all-null column gets no bloom on either path: nulls are fed to
    // the aggregate as null, not as xxhash64(null) = 42
    assert(!small.contains("none"))
    // 40 rows size for 64 x 40 items, well under the 100k cap
    val capped = try {
      spark.conf.set("spark.graft.bloom.expectedItems", "1000")
      assertSame(40)
    } finally spark.conf.unset("spark.graft.bloom.expectedItems")
    assert(small("l").length > capped("l").length,
      "the headroom sizing must show: 2,560 items against a cap of 1,000")
  }
}
