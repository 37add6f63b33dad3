package graft.io

import org.apache.hadoop.fs.Path

/** Laziness + sharing contract of the bloom sidecar plumbing:
  *
  *  - planning (`SupportsRuntimeFiltering.filterAttributes` →
  *    [[StatsPrunedFileIndex.runtimeColumns]]) must learn the bloom-tracked
  *    column NAMES without deserializing any filter — the sidecar's
  *    `#cols=` header (or a field-2 scan for pre-header sidecars) is the
  *    metadata-cheap path, so a range-only or never-probed scan never pays
  *    the ~120 KB/file/col bitset load;
  *  - a derived runtime-keep index ([[StatsPrunedFileIndex.withRuntimeKeep]])
  *    must share its parent's already-deserialized bloom map instead of
  *    re-reading the sidecars — a query combining a runtime keep-set with
  *    static equality predicates pays the load ONCE.
  */
class BloomLazinessSpec extends graft.SparkSpecBase {

  private def tmpDir(): Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_bloomlazy").toFile
    d.deleteOnExit()
    new Path(d.getAbsolutePath)
  }

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bloomBytes(values: Seq[Long]): Array[Byte] = {
    val b = org.apache.spark.util.sketch.BloomFilter.create(1000)
    values.foreach(b.putLong)
    val out = new java.io.ByteArrayOutputStream()
    b.writeTo(out)
    out.toByteArray
  }

  test("readBloomColumns: header read for new sidecars, field scan for legacy") {
    val dir = tmpDir()
    val fs = hadoopFs(dir)
    FileStats.writeBloomSidecar(fs, dir, Map(
      "f1.parquet" -> Map("id" -> bloomBytes(Seq(1L)), "k" -> bloomBytes(Seq(2L))),
      "f2.parquet" -> Map("id" -> bloomBytes(Seq(3L)))))
    assert(FileStats.readBloomColumns(fs, dir) == Set("id", "k"))
    // the header must not confuse the full reader
    val full = FileStats.readBloomSidecar(fs, dir)
    assert(full.keySet == Set("f1.parquet", "f2.parquet"))
    assert(full("f1.parquet").keySet == Set("id", "k"))
    // legacy sidecar (pre-header): strip the header line and re-write
    val p = FileStats.bloomSidecarPath(dir)
    val body = {
      val in = fs.open(p)
      val bytes = try {
        val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(b); b
      } finally in.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }
    val legacy = body.linesIterator.filterNot(_.startsWith("#")).mkString("", "\n", "\n")
    val out = fs.create(p, true)
    try out.write(legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(FileStats.readBloomColumns(fs, dir) == Set("id", "k"),
      "pre-header sidecars fall back to the field-2 scan")
    assert(FileStats.readBloomSidecar(fs, dir).keySet == Set("f1.parquet", "f2.parquet"))
  }

  test("names-only planning defers the bloom load; derived index shares it") {
    var bloomLoads = 0
    var nameLoads = 0
    // one real file: the bloom map is only consulted per candidate file,
    // so an empty index would never force the load at all
    val dir = tmpDir()
    val fs = hadoopFs(dir)
    fs.create(new Path(dir, "f.parquet"), true).close()
    val idx = new StatsPrunedFileIndex(spark, Seq(new Path(dir, "f.parquet")), () => Map.empty,
      blooms = () => { bloomLoads += 1; Map.empty },
      bloomCols = () => { nameLoads += 1; Set("id") })
    // filterAttributes path: names only, no sidecar deserialization
    assert(idx.runtimeColumns == Set("id"))
    assert(nameLoads == 1 && bloomLoads == 0,
      "planning a join-bearing query must not load bloom filters")
    // a probe forces the one load
    idx.runtimeSurvivors(Seq("id" -> Seq(1L)))
    assert(bloomLoads == 1)
    // the derived runtime-keep index reuses the parent's deserialized map
    val derived = idx.withRuntimeKeep(Set.empty)
    derived.runtimeSurvivors(Seq("id" -> Seq(2L)))
    derived.listFiles(Nil, Nil)
    assert(bloomLoads == 1, "withRuntimeKeep must share the parent's bloom map")
  }
}
