package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Read planning launches no Spark job: snapshot reads and `Tables`
  * loads plan under a schema resolved in-process (one footer, or the
  * log's capture) that equals what Spark's own inference gives, and a
  * point lookup opens each candidate file's footer exactly once. */
class ReadPlanningSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  val ST = graft.operators.SnapshotTable
  val Engine = graft.operators.Engine
  val Footers = graft.sources.ParquetFooters

  /** `f`'s value and the Spark jobs it started on this thread. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"read-planning-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "read planning")
    try { val r = f; ListenerDrain.drain(sc); (r, n.get) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  private def fresh(name: String): String = {
    val root = Engine.tmpDir(s"graft_rp_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    root
  }

  /** Two range-clustered files of (k, v) with k stats. */
  private def table(name: String): String = {
    val root = fresh(name)
    ST.commitEntries(root, 0,
      ST.writeDataFiles((1L to 40L).map(k => (k, k * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")), root, "a").map(ST.footerEntry(root, _, "k")),
      16, Map("statsCol" -> "k"))
    root
  }

  private def files(root: String): Seq[String] =
    ST.manifestEntries(root, ST.currentVersion(root)).map(e => Paths.get(root, e.rel).toString)

  /** `df` written as ONE parquet file at `root/rel`. */
  private def plant(df: DataFrame, root: String, rel: String): String = {
    val scratch = Engine.tmpDir("graft_rp_plant")
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Engine.listDir(Paths.get(scratch))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Paths.get(root, rel)
    Files.createDirectories(dst.getParent)
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    rel
  }

  test("the counter sees Spark's own inference job (control)") {
    val root = table("control")
    assert(jobsDuring(spark.read.parquet(files(root): _*))._2 >= 1)
  }

  test("snapshot reads plan with zero jobs under the schema Spark infers: plain, mapped, DV'd, row-tracked") {
    val plain = table("plain")
    val mapped = table("mapped")
    ST.renameColumn(spark, mapped, "v", "score")
    val dvd = table("dvd")
    ST.enableDeletionVectors(dvd)
    spark.sql(s"DELETE FROM '$dvd' WHERE k IN (3, 25)").collect()
    assert(ST.dvState(dvd, ST.currentVersion(dvd)).nonEmpty, "fixture: no DV committed")
    // a copy-on-write UPDATE materializes __row_id in ONE file: the
    // version mixes widths without any evolution marker
    val tracked = table("tracked")
    ST.enableRowTracking(spark, tracked)
    ST.update(spark, tracked, Seq("v" -> "v + 1"), "k = 5")
    Seq(plain, mapped, dvd, tracked).foreach { root =>
      val v = ST.currentVersion(root)
      val (logical, jobs) = jobsDuring(ST.read(spark, root))
      assert(jobs == 0, s"$root: ST.read started $jobs job(s) at planning")
      val (physical, physJobs) = jobsDuring(ST.readAtPhysical(spark, root, v))
      assert(physJobs == 0, s"$root: physical read started $physJobs job(s)")
      assert(physical.schema == spark.read.parquet(files(root): _*).schema, root)
      assert(logical.count() == (if (root == dvd) 38 else 40), root)
    }
    assert(ST.read(spark, mapped).columns.toSeq == Seq("k", "score"))
    val (ids, idJobs) = jobsDuring(ST.readWithRowIds(spark, tracked))
    assert(idJobs == 0, s"readWithRowIds started $idJobs job(s) at planning")
    assert(ids.select("_row_id").distinct().count() == 40)
  }

  test("a schemaJson capture plans with zero jobs and equals the merged union") {
    val root = table("captured")
    val v1 = ST.currentVersion(root)
    val wide = plant(Seq((41L, 41.0, 0.5)).toDF("k", "v", "q"), root, "data_wide.parquet")
    val union = StructType(spark.read.option("mergeSchema", "true")
      .parquet((files(root) :+ Paths.get(root, wide).toString): _*).schema.fields)
    ST.commitEntries(root, v1, ST.manifestEntries(root, v1) :+ ST.footerEntry(root, wide, "k"),
      16, Map("statsCol" -> "k", "schema" -> "evolved:+q", "schemaJson" -> union.json))
    val (df, jobs) = jobsDuring(ST.read(spark, root))
    assert(jobs == 0, s"captured read started $jobs job(s) at planning")
    assert(df.schema == union)
    assert(df.filter(col("q").isNotNull).count() == 1)
  }

  test("an unmarked subset samples the footer Spark's inference samples (first by path)") {
    val root = fresh("sample")
    val narrow = plant(Seq((1L, 1.0)).toDF("k", "v"), root, "data_b.parquet")
    val wide = plant(Seq((2L, 2.0, 7L)).toDF("k", "v", "x"), root, "data_a.parquet")
    ST.commitEntries(root, 0, Seq(narrow, wide).map(ST.footerEntry(root, _, "k")), 16,
      Map("statsCol" -> "k"))
    val v = ST.currentVersion(root)
    Seq(Seq(narrow, wide), Seq(wide, narrow), Seq(narrow), Seq(wide)).foreach { rels =>
      val (df, jobs) = jobsDuring(ST.scanRels(spark, root, v, rels))
      assert(jobs == 0)
      assert(df.schema == spark.read.parquet(rels.map(r => Paths.get(root, r).toString): _*).schema,
        rels.toString)
    }
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "v", "x"))
  }

  test("Tables.events plans with zero jobs: TIMESTAMP(NANOS) file, TIMESTAMP(MICROS) directory, corpus") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    def check(dir: String): DataFrame = {
      val (ev, jobs) = jobsDuring(graft.sources.Tables.events(spark, dir))
      assert(jobs == 0, s"Tables.events($dir) started $jobs job(s) at planning")
      assert(ev.schema == graft.sources.Tables.normalizeTs(
        spark.read.parquet(s"$dir/events.parquet")).schema, dir)
      assert(ev.schema("ts").dataType == LongType)
      ev
    }
    // TIMESTAMP(NANOS) as one file: read as a raw LONG under nanosAsLong
    val nanos = fresh("events_nanos")
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(Paths.get(nanos, "events.parquet").toUri))
      .withConf(new org.apache.hadoop.conf.Configuration()).withType(msg).build()
    val g = new SimpleGroupFactory(msg)
    (0 until 3).foreach(i =>
      w.write(g.newGroup().append("event_id", i.toLong).append("ts", 1700000000123456789L + i)))
    w.close()
    assert(check(nanos).orderBy("event_id").select("ts").as[Long].collect().toSeq ==
      (0 until 3).map(1700000000123456789L + _))
    // TIMESTAMP(MICROS) as a directory, as Spark writes one (_SUCCESS,
    // .crc files), plus a wider file that sorts first — the footer
    // inference samples — and hidden files that sort before it
    val micros = fresh("events_micros")
    val path = s"$micros/events.parquet"
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      Seq((1L, "2023-11-14 22:13:20.123456"), (2L, "2023-11-15 00:00:00"))
        .toDF("event_id", "t").select(col("event_id"), to_timestamp(col("t")).as("ts"))
        .repartition(2).write.parquet(path)
      plant(Seq((3L, "2023-11-16 00:00:00", "web")).toDF("event_id", "t", "src")
        .select(col("event_id"), to_timestamp(col("t")).as("ts"), col("src")),
        micros, "events.parquet/a-wide.parquet")
      Seq("_hidden.parquet", ".hidden.parquet").foreach(h =>
        plant(Seq((9L, 9L, 9L)).toDF("event_id", "ts", "other"), micros, s"events.parquet/$h"))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.parquet.outputTimestampType", p)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val ev = check(micros)
    assert(ev.columns.toSeq == Seq("event_id", "ts", "src"))
    assert(ev.orderBy("event_id").select("ts").as[Long].collect().head == 1700000000123456000L)
    // the mounted corpus, whichever vintage it is
    check(sf)
  }

  test("readPointLookup opens each candidate footer once and plans with zero jobs") {
    val root = fresh("lookup")
    val scratch = Engine.tmpDir("graft_rp_lookup_scratch")
    (1L to 400L).map(k => (k, k % 7)).toDF("k", "g").repartitionByRange(4, col("k"))
      .write.mode("overwrite").option("parquet.bloom.filter.enabled#k", "true").parquet(scratch)
    val rels = Engine.listDir(Paths.get(scratch))
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      .zipWithIndex.map { case (p, i) =>
        val rel = s"data_l$i.parquet"
        Files.move(p, Paths.get(root, rel), StandardCopyOption.REPLACE_EXISTING)
        rel
      }
    assert(rels.size == 4)
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "k")), 16, Map("statsCol" -> "k"))
    def lookup(needles: Seq[Long], expect: Seq[Long]): Unit = {
      val files = ST.manifestEntries(root, ST.currentVersion(root)).size
      val before = Footers.opens.get()
      val (df, jobs) = jobsDuring(ST.readPointLookup(spark, root, "k", needles))
      assert(Footers.opens.get() - before == files, s"footer opens for $needles")
      assert(jobs == 0, s"lookup of $needles started $jobs job(s) at planning")
      assert(df.select("k").as[Long].collect().sorted.toSeq == expect)
    }
    lookup(Seq(5L), Seq(5L))
    lookup(Seq(5L, 395L), Seq(5L, 395L))
    lookup(Seq(100000L), Nil) // every bloom misses: the first footer gives the schema
    ST.enableDeletionVectors(root)
    spark.sql(s"DELETE FROM '$root' WHERE k = 5").collect()
    assert(ST.dvState(root, ST.currentVersion(root)).nonEmpty, "fixture: no DV committed")
    lookup(Seq(5L, 6L), Seq(6L))
  }

  test("DV exclusion keys on the full file path: same-named sidecars in two directories stay apart") {
    // a space in the root: the key must follow Spark's path encoding
    val root = fresh("dv same names")
    val a = plant((1L to 5L).map(k => (k, k * 1.0)).toDF("k", "v"), root, "p/data.parquet")
    val b = plant((6L to 10L).map(k => (k, k * 1.0)).toDF("k", "v"), root, "q/data.parquet")
    val da = plant(Seq(0L).toDF("idx"), root, "p/dv.parquet") // ordinal 0 of p: k = 1
    val db = plant(Seq(1L).toDF("idx"), root, "q/dv.parquet") // ordinal 1 of q: k = 7
    ST.commitEntries(root, 0, Seq(a, b).map(ST.footerEntry(root, _, "k")), 16,
      Map("statsCol" -> "k") ++ ST.fmtDv(Map(a -> da, b -> db)).map("dv" -> _))
    val expect = (1L to 10L).filterNot(Set(1L, 7L))
    def keys(df: DataFrame) = df.select("k").as[Long].collect().sorted.toSeq
    assert(keys(ST.read(spark, root)) == expect)
    assert(keys(ST.readPruned(spark, root, "k", 1L, 10L)) == expect)
    assert(keys(ST.readPointLookup(spark, root, "k", Seq(1L, 2L, 6L, 7L))) == Seq(2L, 6L))
  }
}
