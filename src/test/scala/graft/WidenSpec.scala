package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** x39's type-widening contracts: metadata-only (zero files move),
  * mixed-width reads correct through BOTH scan routes (Spark parquet
  * reader via readAt/scanRels, the DSv2 record reader via the
  * connector), DML over mixed widths, narrowing refusals, and the
  * `widen` reader-feature stamp. */
class WidenSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  val ST = graft.operators.SnapshotTable
  val Engine = graft.operators.Engine

  private def freshIntTable(name: String): String = {
    val root = Engine.tmpDir(name)
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val df = (1 to 6).map(i => (i.toLong, i * 10)).toDF("k", "q")
      .withColumn("q", col("q").cast("int"))
    ST.commitEntries(root, 0,
      ST.writeDataFiles(df.coalesce(1), root, "a").map(ST.footerEntry(root, _, "k")),
      shardSize = 8, Map("statsCol" -> "k"))
    root
  }

  test("widen int->long: metadata-only, both read routes upcast, 64-bit inserts land") {
    val root = freshIntTable("graft_widen_core")
    assert(ST.readAt(spark, root, 1).schema("q").dataType == IntegerType)
    val filesBefore = ST.manifestEntries(root, 1).map(_.rel)
    val v2 = ST.widenColumn(spark, root, "q", LongType)
    // metadata-only: same files, widened capture, feature stamped
    assert(ST.manifestEntries(root, v2).map(_.rel) == filesBefore)
    val m = ST.manifestMeta(root, v2)
    assert(m("alter") == "widen:q:int>bigint", m.toString)
    assert(m("readerFeatures").split(',').contains("widen"), m.toString)
    // idempotent: widening to the current type mints nothing
    assert(ST.widenColumn(spark, root, "q", LongType) == v2)
    // Scala route reads the narrow file under the widened schema
    val scalaRead = ST.read(spark, root)
    assert(scalaRead.schema("q").dataType == LongType)
    assert(scalaRead.agg(sum("q")).head().getLong(0) == 210L)
    // a merge-appended batch carries genuinely 64-bit values
    val big = Seq((100L, 6000000000L, "i"), (101L, 6000000001L, "i"))
      .toDF("k", "q", "op")
    ST.merge(spark, root, "k", "k", big)
    val expect = 210L + 6000000000L + 6000000001L
    assert(ST.read(spark, root).agg(sum("q")).head().getLong(0) == expect)
    // DSv2 route over the MIXED files (int32 + int64): in-slot upcast
    val dsv2 = spark.read.format("graft-snapshot").load(root)
    assert(dsv2.schema("q").dataType == LongType)
    assert(dsv2.agg(sum("q")).head().getLong(0) == expect)
    // time travel keeps the narrow historical schema
    assert(ST.readAt(spark, root, 1).schema("q").dataType == IntegerType)
  }

  test("widen refusals: narrowing, unknown column, unsupported retype") {
    val root = freshIntTable("graft_widen_refuse")
    ST.widenColumn(spark, root, "q", LongType)
    val e1 = intercept[Exception](ST.widenColumn(spark, root, "q", IntegerType))
    assert(e1.getMessage.contains("not a supported metadata-only"), e1.getMessage)
    val e2 = intercept[Exception](ST.widenColumn(spark, root, "zz", LongType))
    assert(e2.getMessage.contains("no column zz"), e2.getMessage)
    val e3 = intercept[Exception](ST.widenColumn(spark, root, "q", StringType))
    assert(e3.getMessage.contains("not a supported metadata-only"), e3.getMessage)
    // the catalog SQL spelling refuses the same way
    val w = java.nio.file.Files.createTempDirectory("graft_widen_cat").toString
    spark.conf.set("spark.sql.catalog.gwid", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwid.root", w)
    spark.sql("CREATE TABLE gwid.t (k BIGINT, q INT)")
    spark.sql("INSERT INTO gwid.t VALUES (1, 10)")
    spark.sql("ALTER TABLE gwid.t ALTER COLUMN q TYPE BIGINT")
    val root2 = Paths.get(w, "t").toString
    assert(ST.manifestMeta(root2, ST.currentVersion(root2)).contains("widen"))
    // narrowing through SQL is refused by Spark's own analyzer
    // (NOT_SUPPORTED_CHANGE_COLUMN — only upcasts reach the catalog),
    // which is exactly the loud refusal the contract wants
    val e4 = intercept[Exception](
      spark.sql("ALTER TABLE gwid.t ALTER COLUMN q TYPE INT").collect())
    assert(Iterator.iterate(e4: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(m =>
        m.contains("not a supported") || m.contains("NOT_SUPPORTED_CHANGE_COLUMN"))),
      e4.getMessage)
  }

  test("path-SQL spelling: ALTER TABLE '<path>' ALTER COLUMN q TYPE BIGINT") {
    val root = freshIntTable("graft_widen_pathsql")
    spark.sql(s"ALTER TABLE '$root' ALTER COLUMN q TYPE BIGINT").collect()
    assert(ST.read(spark, root).schema("q").dataType == LongType)
    assert(ST.manifestMeta(root, ST.currentVersion(root)).contains("widen"))
    // narrowing refuses through the same route (widenColumn's guard —
    // no Spark analyzer in front of the path spelling)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE '$root' ALTER COLUMN q TYPE INT").collect())
    assert(e.getMessage.contains("not a supported metadata-only"), e.getMessage)
  }

  test("bloom point lookup stays sound across widening (int32 blooms, long needles)") {
    val root = Engine.tmpDir("graft_widen_bloom")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    // one file with an int32 key column and a parquet bloom on it
    val stage = s"$root/stage"
    (1 to 100).map(i => (i.toLong, i * 7)).toDF("k", "q")
      .withColumn("q", col("q").cast("int")).coalesce(1)
      .write.option("parquet.bloom.filter.enabled#q", "true")
      .mode("overwrite").parquet(stage)
    val part = Engine.listDir(Paths.get(stage))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, Paths.get(root, "data_b.parquet"))
    ST.commitEntries(root, 0,
      Seq(ST.footerEntry(root, "data_b.parquet", "k")), 8, Map("statsCol" -> "k"))
    ST.widenColumn(spark, root, "q", LongType)
    // the lookup value is a LONG now; the file's bloom hashed int32s —
    // the probe must hash at the file's width or it false-negatives
    val hits = ST.bloomMayContain(root, "data_b.parquet", "q", Seq(7L * 50))
    assert(hits == Seq(7L * 50), s"bloom false-negative after widening: $hits")
    // out-of-int-range needles prune soundly (cannot be in int32 files)
    assert(ST.bloomMayContain(root, "data_b.parquet", "q", Seq(6000000000L)).isEmpty)
    // end-to-end: the point lookup finds the row under the widened type
    val row = ST.readPointLookup(spark, root, "q", Seq(7L * 50)).collect()
    assert(row.map(_.getAs[Long]("q")).toSeq == Seq(350L), row.mkString(","))
  }

  test("parameterized type spellings reach widenColumn's refusal, not a parser error (r14 review)") {
    val root = freshIntTable("graft_widen_decimal")
    val e = intercept[Exception](graft.sources.SnapshotSql.exec(spark,
      s"ALTER TABLE '$root' ALTER COLUMN q TYPE DECIMAL(18,0)"))
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(chain(e).contains("not a supported metadata-only"), chain(e))
  }

  test("bloom probes hash at floating widths too (double pages, long needles) (r14 review)") {
    val root = Engine.tmpDir("graft_widen_bloom_dbl")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val stage = s"$root/stage"
    (1 to 100).map(i => (i.toLong, (i * 7).toDouble)).toDF("k", "q")
      .coalesce(1)
      .write.option("parquet.bloom.filter.enabled#q", "true")
      .mode("overwrite").parquet(stage)
    val part = Engine.listDir(Paths.get(stage))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, Paths.get(root, "data_d.parquet"))
    ST.commitEntries(root, 0,
      Seq(ST.footerEntry(root, "data_d.parquet", "k")), 8, Map("statsCol" -> "k"))
    // a present needle must be found (hashing the long raw against a
    // double-built bloom would false-negative)
    assert(ST.bloomMayContain(root, "data_d.parquet", "q", Seq(350L)) == Seq(350L))
    // an absent representable needle prunes; an unrepresentable one
    // conservatively keeps (may-contain)
    assert(ST.bloomMayContain(root, "data_d.parquet", "q", Seq(349L)).isEmpty)
    val huge = (1L << 62) + 1
    assert(ST.bloomMayContain(root, "data_d.parquet", "q", Seq(huge)) == Seq(huge))
  }

  test("DML over mixed widths: UPDATE/DELETE rewrite correctly, stats prune survives") {
    val root = freshIntTable("graft_widen_dml")
    ST.widenColumn(spark, root, "q", LongType)
    ST.merge(spark, root, "k", "k",
      Seq((100L, 6000000000L, "i")).toDF("k", "q", "op"))
    // CoW UPDATE across a narrow file: reads upcast, rewrite lands long
    spark.sql(s"UPDATE '$root' SET q = q + 1 WHERE k <= 2").collect()
    val got = ST.read(spark, root).orderBy("k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 11L && got(2L) == 21L && got(100L) == 6000000000L, got.toString)
    // DELETE in the narrow region
    spark.sql(s"DELETE FROM '$root' WHERE k = 3").collect()
    assert(ST.read(spark, root).count() == 6)
    // float->double widening on a second table
    val root2 = Engine.tmpDir("graft_widen_f")
    Engine.listDir(Paths.get(root2)).foreach(Engine.deleteRecursively)
    val df = (1 to 4).map(i => (i.toLong, i * 1.5f)).toDF("k", "x")
    ST.commitEntries(root2, 0,
      ST.writeDataFiles(df.coalesce(1), root2, "a").map(ST.footerEntry(root2, _, "k")),
      shardSize = 8, Map("statsCol" -> "k"))
    ST.widenColumn(spark, root2, "x", DoubleType)
    assert(ST.read(spark, root2).schema("x").dataType == DoubleType)
    assert(math.abs(ST.read(spark, root2).agg(sum("x")).head().getDouble(0) - 15.0) < 1e-9)
    val dsv2 = spark.read.format("graft-snapshot").load(root2)
    assert(math.abs(dsv2.agg(sum("x")).head().getDouble(0) - 15.0) < 1e-9)
  }
}
