package graft

import graft.io.Versioned
import org.apache.spark.sql.functions._

/** RENAME COLUMN via field-id column mapping: metadata-only rename, old
  * files served by id under the new name, per-version schemas across the
  * rename, drop/re-add without tombstones on mapped tables, and the
  * legacy-table refusal + upgrade path. */
class RenameColumnSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_rename").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("metadata-only rename serves pre-rename files by field id") {
    val root = tmpRoot()
    Versioned.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    Versioned.commit(spark, Seq((3L, "c")).toDF("id", "v"), root)
    val v3 = Versioned.renameColumn(spark, root, "v", "label")
    assert(v3 == 3L)
    // no data file was rewritten by the rename
    assert(Versioned.read(spark, root, asOf = Some(2L)).inputFiles.sorted.toSeq ==
      Versioned.read(spark, root).inputFiles.sorted.toSeq)
    // the new name serves values from files written under the OLD name
    val out = Versioned.read(spark, root).select("id", "label")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // post-rename append under the new name lands in the same column
    Versioned.commit(spark, Seq((4L, "d")).toDF("id", "label"), root)
    assert(Versioned.read(spark, root).select("label").as[String]
      .collect().toSet == Set("a", "b", "c", "d"))
    // time travel ACROSS the rename: v2 still reads the old name
    val old = Versioned.read(spark, root, asOf = Some(2L))
    assert(old.columns.toSeq == Seq("id", "v"))
    assert(old.select("v").as[String].collect().toSet == Set("a", "b", "c"))
    // the DSv2 format path (native vectorized scan) agrees
    val dsv2 = spark.read.format("graft-versioned").load(root)
    assert(dsv2.columns.toSeq == Seq("id", "label"))
    assert(dsv2.select("label").as[String].collect().toSet ==
      Set("a", "b", "c", "d"))
    assert(spark.read.format("graft-versioned").option("asOf", 2).load(root)
      .columns.toSeq == Seq("id", "v"))
  }

  test("pure-insert merge works after renaming a bloom-tracked column") {
    // ADVICE r11 (medium): mergeInto's pure-insert path looked each
    // sidecar-tracked bloom name up in the SOURCE schema without a
    // containment guard — after renaming the bloom column the retired
    // name is absent and every no-match merge threw until a compact.
    // The renamed-away bloom conservatively just loses its bloom.
    val root = tmpRoot()
    Versioned.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root,
      bloomCols = Seq("v"))
    Versioned.renameColumn(spark, root, "v", "label")
    // key 3 matches nothing: the merge is a plain append (pure insert)
    Versioned.mergeInto(spark, root,
      Seq((3L, "c")).toDF("id", "label"), Seq("id"))
    assert(Versioned.read(spark, root).select("id", "label")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("rename refuses collisions, unknown columns, and checked columns") {
    val root = tmpRoot()
    Versioned.commit(spark, Seq((1L, "a", 5.0)).toDF("id", "v", "w"), root)
    assert(intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "v", "W")).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "nope", "x")).getMessage.contains("no column"))
    Versioned.addConstraint(spark, root, "w_pos", "w > 0")
    assert(intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "w", "weight")).getMessage.contains("w_pos"))
    // unchecked column still renames fine under the constraint
    Versioned.renameColumn(spark, root, "v", "label")
    assert(Versioned.read(spark, root).columns.toSeq == Seq("id", "label", "w"))
  }

  test("mapped tables: drop then re-add the same name reads null, never old values") {
    val root = tmpRoot()
    Versioned.commit(spark, Seq((1L, "secret")).toDF("id", "v"), root)
    Versioned.dropColumns(spark, root, Seq("v"))
    // no tombstone refusal on a mapped table: the fresh field id IS the guard
    Versioned.commit(spark, Seq((2L, "new")).toDF("id", "v"), root)
    val rows = Versioned.read(spark, root).select("id", "v")
      .as[(Long, Option[String])].collect().toSet
    assert(rows == Set((1L, None), (2L, Some("new"))),
      s"old value resurfaced: $rows")
    // and the pre-drop version still time-travels to the old value
    assert(Versioned.read(spark, root, asOf = Some(1L)).select("v")
      .as[String].collect().toSeq == Seq("secret"))
  }

  test("rename then rename back round-trips by id") {
    val root = tmpRoot()
    Versioned.commit(spark, Seq((1L, 10.0)).toDF("id", "x"), root)
    Versioned.renameColumn(spark, root, "x", "y")
    Versioned.commit(spark, Seq((2L, 20.0)).toDF("id", "y"), root)
    Versioned.renameColumn(spark, root, "y", "x")
    assert(Versioned.read(spark, root).select("x").as[Double]
      .collect().toSet == Set(10.0, 20.0))
  }

  test("legacy tables refuse rename; one compactLatest upgrades them") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.columnMapping", "false")
    try {
      Versioned.commit(spark, Seq((1L, "a")).toDF("id", "v"), root)
    } finally spark.conf.unset("spark.graft.columnMapping")
    val e = intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "v", "label"))
    assert(e.getMessage.contains("field-id column mapping"), e.getMessage)
    // the message's own remedy must work: replace-rewrite, then rename
    Versioned.compactLatest(spark, root, nFiles = 1)
    Versioned.renameColumn(spark, root, "v", "label")
    assert(Versioned.read(spark, root).select("label").as[String]
      .collect().toSeq == Seq("a"))
  }

  test("rename refuses a target name old sidecars still carry stats for") {
    val root = tmpRoot()
    // 'sec' gets per-file min/max stats, then is dropped — the sidecar
    // entries under 'sec' survive in the retained batch
    Versioned.commit(spark,
      Seq((1L, 10.0, 5.0), (2L, 20.0, 7.0)).toDF("id", "x", "sec").coalesce(1),
      root, statsCols = Seq("sec", "x"))
    Versioned.dropColumns(spark, root, Seq("sec"))
    // renaming x onto 'sec' would route pruned reads of the renamed
    // column through the DEAD column's stats — wrong file skips; refuse
    val e = intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "x", "sec"))
    assert(e.getMessage.contains("sidecars"), e.getMessage)
    // the refusal's remedy works: full rewrite re-harvests under current
    // names, then the rename goes through and pruning stays exact
    Versioned.compactLatest(spark, root, nFiles = 1, sortCols = Seq("x"))
    Versioned.renameColumn(spark, root, "x", "sec")
    assert(Versioned.readPruned(spark, root, "sec", Some(15.0), None)
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("a vacated name's stale stats never power a delete against its new occupant") {
    // rename x->y vacates 'x'; its sidecar entries describe y's live
    // values. A new column re-using 'x' reads null from old files, so a
    // DELETE over x must not let the stale proof drop those files.
    val root = tmpRoot()
    Versioned.commit(spark,
      Seq((1L, 5.0), (2L, 7.0)).toDF("id", "x").coalesce(1),
      root, statsCols = Seq("x"))
    Versioned.renameColumn(spark, root, "x", "y")
    assert(Versioned.statsDeadColumns(spark, root) == Set("x"))
    Versioned.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType)))
    Versioned.deleteWhere(spark, root, col("x") >= 0.0)
    val rows = Versioned.read(spark, root).select("id", "y")
      .as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 5.0), (2L, 7.0)),
      "stale stats under the vacated name powered a wrong whole-file delete")
  }

  test("stale LONG stats under a vacated name never power a copy-on-write delete") {
    // The r11 guard plugged statsByFile (the merge-on-read proofs'
    // lookup) but the COPY-ON-WRITE rewriteTouched built its own
    // unfiltered stats map — and the r11 spec's DoubleType column made
    // its CoW leg vacuous (double stats never prove anything). With a
    // LONG column the stale proof is reachable: nulls=0 and min/max of
    // the RENAMED-AWAY values would "prove" all-match for a re-added
    // column that actually reads null from every old file, and the
    // whole-file drop silently destroys the rows.
    val root = tmpRoot()
    Versioned.commit(spark,
      Seq((1L, 5L), (2L, 7L)).toDF("id", "x").coalesce(1),
      root, statsCols = Seq("x"))
    Versioned.renameColumn(spark, root, "x", "y")
    Versioned.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType)))
    Versioned.deleteWhere(spark, root, col("x") >= 0L)
    val rows = Versioned.read(spark, root).select("id", "y")
      .as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 5L), (2L, 7L)),
      "stale LONG stats under the vacated name powered a wrong CoW whole-file delete")
    // and updateWhere (same machinery, proof skips probing) stays sound
    Versioned.updateWhere(spark, root, col("x") >= 0L,
      Map("y" -> org.apache.spark.sql.functions.lit(0L)))
    assert(Versioned.read(spark, root).select("y").as[Long]
      .collect().toSet == Set(5L, 7L),
      "null-reading re-added column must update nothing")
  }

  test("a renamed bloom-tracked column is looked up through Versioned.read") {
    // The library read prunes through the stats/bloom file index. Old
    // files' blooms are keyed by the name at write time ('id'), which the
    // rename vacates (#statsdead): a lookup on the new name must keep
    // those files and return their rows, and the vacated name's stale
    // blooms must never prune for a new occupant of that name.
    val root = tmpRoot()
    (0 until 3).foreach { m =>
      Versioned.commit(spark,
        (0L until 300L).filter(_ % 3 == m).map(i => (i, s"k$i")).toDF("id", "v")
          .coalesce(1), root, bloomCols = Seq("id"))
    }
    Versioned.renameColumn(spark, root, "id", "key")
    def lookup(p: org.apache.spark.sql.Column) =
      Versioned.read(spark, root).filter(p).select("key", "v")
        .as[(Long, String)].collect().toSeq
    assert(lookup($"key" === 100L) == Seq((100L, "k100")))
    assert(lookup($"key".isin(1L, 2L, 3L)).sorted ==
      Seq((1L, "k1"), (2L, "k2"), (3L, "k3")))
    Versioned.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    Versioned.commit(spark, Seq((1000L, "new", 100L)).toDF("key", "v", "id"), root)
    assert(lookup($"id" === 100L) == Seq((1000L, "new")))
    assert(lookup($"key" === 100L) == Seq((100L, "k100")))
  }

  test("SQL surface: ALTER TABLE RENAME COLUMN through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft_rename_wh").toFile
    wh.deleteOnExit()
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft_rn", "graft.io.VersionedCatalog")
    s.conf.set("spark.sql.catalog.graft_rn.warehouse", wh.getAbsolutePath)
    s.sql("CREATE TABLE graft_rn.ns.t (id BIGINT, v STRING)")
    s.sql("INSERT INTO graft_rn.ns.t VALUES (1, 'a'), (2, 'b')")
    s.sql("ALTER TABLE graft_rn.ns.t RENAME COLUMN v TO label")
    assert(s.table("graft_rn.ns.t").columns.toSeq == Seq("id", "label"))
    s.sql("INSERT INTO graft_rn.ns.t VALUES (3, 'c')")
    assert(s.sql("SELECT label FROM graft_rn.ns.t ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // filters on the renamed column reach rows in pre-rename files
    assert(s.sql("SELECT id FROM graft_rn.ns.t WHERE label = 'a'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // unknown column refuses at analysis
    intercept[Exception](
      s.sql("ALTER TABLE graft_rn.ns.t RENAME COLUMN nope TO x"))
    // the CALL procedure form round-trips too
    s.sql("CALL graft_rn.system.rename_column('ns.t', 'label', 'v2')")
    assert(s.table("graft_rn.ns.t").columns.toSeq == Seq("id", "v2"))
    assert(s.sql("SELECT v2 FROM graft_rn.ns.t WHERE id = 1")
      .collect().head.getString(0) == "a")
  }

  test("nested fields are mapped: ids at every level, rename beside array and struct") {
    import org.apache.spark.sql.types._
    val root = tmpRoot()
    val inner = StructType(Seq(
      StructField("u", LongType), StructField("w", StringType)))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("s", inner),
      StructField("emb", ArrayType(FloatType))))
    def rows(ids: Seq[Long]) = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          ids.map(i => org.apache.spark.sql.Row(
            i, org.apache.spark.sql.Row(i * 10, s"w$i"),
            Seq(i.toFloat, (i * 2).toFloat)))).asJava), schema)
    Versioned.commit(spark, rows(Seq(1L, 2L)), root)
    // ids at EVERY struct level of the recorded schema, covered by the
    // high-water mark (id, s, s.u, s.w, emb = 5 distinct ids)
    val rec = Versioned.snapshotSchema(spark, root, Some(1L)).get
    val sType = rec("s").dataType.asInstanceOf[StructType]
    assert(graft.io.ColumnIds.idOf(rec("s")).isDefined)
    assert(sType.fields.forall(f => graft.io.ColumnIds.idOf(f).isDefined),
      "nested struct fields must carry field ids")
    assert(graft.io.ColumnIds.maxId(rec) == 5L)
    // and the WRITTEN FOOTERS carry the nested ids too (not just the
    // recorded schema): parquet-level check on a data file
    val file = Versioned.snapshotFiles(spark, root).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sparkContext.hadoopConfiguration))
    val msg = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    val sGroup = msg.getType(Seq("s"): _*).asGroupType()
    assert(sGroup.getId != null && sGroup.getType("u").getId != null &&
      sGroup.getType("w").getId != null,
      s"footer must stamp nested ids, got $msg")
    // top-level rename of the STRUCT column itself: old files serve the
    // whole subtree by id under the new name
    Versioned.commit(spark, rows(Seq(3L)), root)
    Versioned.renameColumn(spark, root, "s", "payload")
    val out = Versioned.read(spark, root)
      .select(col("id"), col("payload.u"), col("payload.w"), col("emb"))
      .as[(Long, Long, String, Seq[Float])].collect().toSet
    assert(out == Set(
      (1L, 10L, "w1", Seq(1f, 2f)), (2L, 20L, "w2", Seq(2f, 4f)),
      (3L, 30L, "w3", Seq(3f, 6f))))
    // the PRUNED single-field projection must serve the same values:
    // selecting ONE field of the renamed struct triggers nested schema
    // pruning, which breaks field-id matching upstream (silent nulls) —
    // the mapped read disables it (ensureReadConfs)
    assert(Versioned.read(spark, root).select(col("payload.u"))
      .as[Long].collect().toSet == Set(10L, 20L, 30L))
    assert(spark.read.format("graft-versioned").load(root)
      .select(col("payload.u")).as[Long].collect().toSet == Set(10L, 20L, 30L),
      "the DSv2 scan's pruned projection must agree")
    // drop the struct column; a re-added same-name struct reads null
    // from old files (fresh top-level id gates the whole subtree), and
    // its fresh ids sit PAST every retired nested id
    Versioned.dropColumns(spark, root, Seq("payload"))
    Versioned.commit(spark,
      rows(Seq(4L)).withColumnRenamed("s", "payload"), root)
    val re = Versioned.read(spark, root)
      .select(col("id"), col("payload"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(re(1L).isEmpty && re(2L).isEmpty && re(3L).isEmpty &&
      re(4L).isDefined, s"old struct values resurfaced: $re")
    val rec2 = Versioned.snapshotSchema(spark, root, None).get
    val reIds = graft.io.ColumnIds.idOf(rec2("payload")).get +:
      rec2("payload").dataType.asInstanceOf[StructType].fields
        .flatMap(graft.io.ColumnIds.idOf).toSeq
    assert(reIds.forall(_ > 5L),
      s"re-added struct must take fresh ids past the high-water mark, got $reIds")
  }

  test("nested-field evolution refuses loudly, never silently") {
    import org.apache.spark.sql.types._
    val root = tmpRoot()
    val inner = StructType(Seq(StructField("u", LongType)))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", inner)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          Seq(org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(5L)))).asJava),
      schema)
    Versioned.commit(spark, df, root)
    // rename/drop INSIDE a struct: explicit refusal, not "no column"
    assert(intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "s.u", "s.v"))
      .getMessage.contains("nested-field rename"))
    assert(intercept[IllegalArgumentException](
      Versioned.dropColumns(spark, root, Seq("s.u")))
      .getMessage.contains("nested-field drop"))
    // an append whose struct SHAPE evolved (extra inner field) refuses
    // at schema merge — nested shapes never drift silently
    val evolvedInner = StructType(Seq(
      StructField("u", LongType), StructField("v", LongType)))
    val evolved = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          Seq(org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row(6L, 7L)))).asJava),
      StructType(Seq(StructField("id", LongType), StructField("s", evolvedInner))))
    assert(intercept[IllegalArgumentException](
      Versioned.commit(spark, evolved, root))
      .getMessage.contains("widening"))
    // the migration freeze, unit-level: an OLD-era mapped field (top id,
    // no nested ids) must never gain nested ids on an append-shaped
    // derivation — old files would serve its nested fields as NULL
    // under an id-matched read
    val oldEra = StructType(Seq(
      StructField("id", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("s", inner, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val completed = graft.io.ColumnIds.completeIds(oldEra, 2L)
    assert(completed("s").dataType.asInstanceOf[StructType]
      .fields.forall(f => graft.io.ColumnIds.idOf(f).isEmpty),
      "completeIds must freeze nested state under an id-bearing field")
    // ...while a genuinely NEW struct column maps fully
    val withNew = StructType(oldEra.fields :+
      StructField("t", inner, nullable = true))
    val completed2 = graft.io.ColumnIds.completeIds(withNew, 2L)
    assert(graft.io.ColumnIds.idOf(completed2("t")).exists(_ > 2L))
    assert(completed2("t").dataType.asInstanceOf[StructType]
      .fields.forall(f => graft.io.ColumnIds.idOf(f).exists(_ > 2L)),
      "a fresh struct column maps at every level")
  }

  test("dotted TOP-LEVEL names rename and drop normally; missing dotted names read as nested attempts") {
    // dotted literals are a supported column shape (the CDF source
    // backtick-quotes for exactly this reason) — the nested-refusal
    // guard must only fire for dotted names that are NOT schema members
    val root = tmpRoot()
    Versioned.commit(spark,
      Seq((1L, 9.99, "a")).toDF("id", "price.usd", "v"), root)
    Versioned.renameColumn(spark, root, "price.usd", "usd")
    assert(Versioned.read(spark, root).select("usd").as[Double]
      .collect().toSeq == Seq(9.99))
    Versioned.renameColumn(spark, root, "usd", "price.eur")
    Versioned.dropColumns(spark, root, Seq("price.eur"))
    assert(Versioned.read(spark, root).columns.toSeq == Seq("id", "v"))
    // a dotted name that is NOT a column reads as a nested attempt
    assert(intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "v.inner", "x"))
      .getMessage.contains("nested-field rename"))
    assert(intercept[IllegalArgumentException](
      Versioned.dropColumns(spark, root, Seq("v.inner")))
      .getMessage.contains("nested-field drop"))
    // and a plain missing name keeps the plain message
    assert(intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, root, "nope", "x"))
      .getMessage.contains("no column"))
  }

  test("one compactLatest upgrades a legacy table to FULL nested mapping") {
    import org.apache.spark.sql.types._
    val root = tmpRoot()
    val inner = StructType(Seq(
      StructField("u", LongType), StructField("w", StringType)))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", inner),
      StructField("emb", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          Seq(org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(5L, "x"),
            Seq(1f, 2f)))).asJava), schema)
    spark.conf.set("spark.graft.columnMapping", "false")
    try Versioned.commit(spark, df, root)
    finally spark.conf.unset("spark.graft.columnMapping")
    assert(!graft.io.ColumnIds.hasIds(
      Versioned.snapshotSchema(spark, root, None).get))
    // the documented upgrade: one full-rewrite replace assigns EVERY id
    // fresh — nested levels included (replace ignores the previous
    // schema, so the completeIds freeze for existing columns does not
    // apply; the rewritten files all carry the new ids)
    Versioned.compactLatest(spark, root, nFiles = 1)
    val rec = Versioned.snapshotSchema(spark, root, None).get
    assert(graft.io.ColumnIds.idOf(rec("s")).isDefined)
    assert(rec("s").dataType.asInstanceOf[StructType].fields
      .forall(f => graft.io.ColumnIds.idOf(f).isDefined),
      "upgrade must map nested fields too")
    assert(graft.io.ColumnIds.maxId(rec) == 5L)
    // and the upgraded table renames like any mapped table — including
    // the PRUNED single-field projection, which Spark's nested schema
    // pruning would silently null for a renamed struct (ensureReadConfs
    // turns pruning off for nested-id schemas; this assert caught the
    // hazard live)
    Versioned.renameColumn(spark, root, "s", "payload")
    assert(Versioned.read(spark, root).select("payload.u").as[Long]
      .collect().toSeq == Seq(5L))
  }

  test("rename survives merge, update, and compaction") {
    val root = tmpRoot()
    Versioned.commit(spark, (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "x"), root)
    Versioned.renameColumn(spark, root, "x", "price")
    // copy-on-write merge keyed on id, under the NEW name
    Versioned.mergeInto(spark, root,
      Seq((5L, 99.0), (11L, 11.0)).toDF("id", "price"), Seq("id"))
    // update through the renamed column
    Versioned.updateWhere(spark, root, col("id") === 1L,
      Map("price" -> lit(42.0)))
    // compact and re-read: rewritten files carry the new name + same id
    Versioned.compactLatest(spark, root, nFiles = 1, sortCols = Seq("id"))
    val out = Versioned.read(spark, root).select("id", "price")
      .as[(Long, Double)].collect().toMap
    assert(out.size == 11)
    assert(out(5L) == 99.0 && out(1L) == 42.0 && out(11L) == 11.0 && out(2L) == 2.0)
  }

  test("nested-id read latches nested pruning off session-wide; later reads stay correct") {
    import org.apache.spark.sql.types._
    // ensureReadConfs's documented one-way latch: reading a nested-id
    // table turns spark.sql.optimizer.nestedSchemaPruning.enabled off for
    // the REST of the session (restoring it on a later flat read would
    // re-poison any still-lazy nested frame — see the scaladoc). This
    // test pins the residual blast radius: purely an optimization loss,
    // never a value change, for every read shape that follows the latch.
    val root = tmpRoot()
    Versioned.commit(spark, Seq((1L, (10L, "w1")), (2L, (20L, "w2")))
      .toDF("id", "s").select(col("id"),
        col("s").cast(StructType(Seq(StructField("u", LongType),
          StructField("w", StringType)))).as("s")), root)
    Versioned.renameColumn(spark, root, "s", "payload") // nested ids now live
    assert(Versioned.read(spark, root).select("payload.u").as[Long]
      .collect().toSet == Set(10L, 20L))
    assert(spark.conf.get("spark.sql.optimizer.nestedSchemaPruning.enabled")
      == "false", "the nested-id read must have latched pruning off")

    // a FLAT mapped table read after the latch: values unchanged
    val flat = tmpRoot()
    Versioned.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), flat)
    Versioned.renameColumn(spark, flat, "v", "label")
    assert(Versioned.read(spark, flat).select("id", "label")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))

    // a NON-graft nested parquet read after the latch: same rows as a
    // pruned projection would serve — the latch costs the prune, not data
    val plainDir = java.nio.file.Files.createTempDirectory("graft_plain").toString
    Seq((1L, 5L, "x"), (2L, 6L, "y")).toDF("id", "u", "w")
      .select(col("id"), struct(col("u"), col("w")).as("s"))
      .write.mode("overwrite").parquet(plainDir)
    assert(spark.read.parquet(plainDir).select(col("id"), col("s.u"))
      .as[(Long, Long)].collect().toSet == Set((1L, 5L), (2L, 6L)))
  }
}
