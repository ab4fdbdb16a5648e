package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline, Similarity, SnapshotTable => ST, TextAnalysis => TA}
import graft.sources.Tables

private[perfbench] object Util {
  def tick: Long = System.nanoTime()
  def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def longs(n: JsonNode): Seq[Long] = n.asScala.map(_.asLong).toSeq

  /** Order-independent content hash of a frame: the action every timed
    * step ends in, so no output column can be pruned away. */
  def hashOf(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.toSeq.map(df.col): _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")), count(lit(1))).head()
    s"${r.get(0)}:${r.getLong(1)}"
  }

  def dirBytes(root: String): Long = {
    val st = Files.walk(Paths.get(root))
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  /** Files and deletion-vector sidecars of a snapshot table's current version. */
  def tableShape(root: String): (Int, Int) = {
    val v = ST.currentVersion(root)
    if (v == 0) (0, 0) else (ST.manifestEntries(root, v).size, ST.dvState(root, v).size)
  }
}
import Util._

/** The paper's daily job: on fresh warehouses, ingest → rollup ∥ score →
  * copy-on-write merge of the scores, one op per daily cycle, followed by
  * keyed score lookups against the serving table. */
final class ChurnDaily(ctx: Ctx) extends Workload {
  private val d = ctx.data
  private val plan = Json.read(s"$d/plan.json")
  private val lookups = plan.get("lookups").asScala.map(longs).toIndexedSeq
  /** Users the scores table must hold after each cycle: those with an
    * event before the cycle's upper cut, from a plain read of the events. */
  private val visible: IndexedSeq[Set[Long]] = {
    val firstDay = ctx.spark.read.parquet(s"$d/events.parquet")
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts").cast("timestamp")).divide(86400000000L).cast("long")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    Pipeline.Cuts.map { case (_, hi) => firstDay.collect { case (u, day) if day < hi => u }.toSet }
      .toIndexedSeq
  }
  private val LookupsPerCycle = 16
  private val current = mutable.Map.empty[Int, Pipeline.Warehouse]
  private val completed = mutable.Map.empty[Int, Pipeline.Warehouse]
  private var nextLookup = 0
  private var commits = 0L

  val unitsPerOp = 1.0
  val roundSize = 3

  def stage(s: SparkSession, fx: Int): Unit = ctx.spans("Tables.load") {
    Tables.events(s, d).count()
    Tables.customer(s, d).count()
  }

  private def versions(w: Pipeline.Warehouse): Long =
    Seq(w.bronze, w.rollup, w.scores).map(ST.currentVersion(_).toLong).sum

  def op(s: SparkSession, fx: Int, i: Int): Unit = {
    val cycle = i % 3
    if (cycle == 0) current(fx) = ctx.spans("Pipeline.freshWarehouse") {
      Pipeline.freshWarehouse(s"pb${fx}_${i / 3}")
    }
    val w = current(fx)
    val v0 = versions(w)
    val (ingested, rolled, scored) = ctx.spans("Pipeline.runCycle") {
      Pipeline.runCycle(s, d, w, cycle)
    }
    require(ingested && rolled && scored,
      s"cycle $cycle committed ($ingested, $rolled, $scored), expected all stages")
    if (fx == Main.SetupReps - 1) commits += versions(w) - v0 // timed ops only
    if (cycle == 2) completed(fx) = w
  }

  def reads(s: SparkSession, fx: Int, i: Int): Seq[() => Option[String]] = {
    val w = current(fx)
    val cycle = i % 3
    (0 until LookupsPerCycle).map { _ =>
      val j = nextLookup % lookups.size
      nextLookup += 1
      () => {
        val df = ctx.spans("SnapshotTable.readPointLookup") {
          ST.readPointLookup(s, w.scores, "user_id", lookups(j))
        }
        val got = ctx.spans("collect") {
          df.select("user_id").collect().map(_.getLong(0)).sorted.toSeq
        }
        val want = lookups(j).filter(visible(cycle)).distinct.sorted
        if (got == want) None
        else Some(s"lookup $j after cycle $cycle returned ${got.mkString(",")}, " +
          s"expected ${want.mkString(",")}")
      }
    }
  }

  private def lastWarehouse(fx: Int): Pipeline.Warehouse =
    completed.getOrElse(fx, completed(0))

  def finish(s: SparkSession, fx: Int, opsDone: Int, rec: mutable.Map[String, Any]): Unit = {
    val w = lastWarehouse(fx)
    rec("rollup") = ST.read(s, w.rollup)
      .select("ep_day", "event_type", "n_events", "n_users", "value_sum")
      .collect().toSeq.map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val shapes = Seq(w.bronze, w.rollup, w.scores).map(tableShape)
    rec("layer") = Map("snapshot.commits" -> commits.toDouble,
      "snapshot.files_live" -> shapes.map(_._1).sum.toDouble)
  }
}

/** LLM-data curation: one op is a curation pass (language id, quality
  * filter, MinHash-LSH near-dup clusters, BPE token counts, sequence
  * packing); the read is a PQ kNN query batch. */
final class LlmCuration(ctx: Ctx) extends Workload {
  private val d = ctx.data
  private val docs = Json.read(s"$d/plan.json").get("documents").asLong
  private val steps: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "TextAnalysis.t1Langid" -> TA.t1Langid _,
    "TextAnalysis.t2Quality" -> TA.t2Quality _,
    "Dedup.d6DedupClustersLsh" -> Dedup.d6DedupClustersLsh _,
    "TextAnalysis.t17BpeTokens" -> TA.t17BpeTokens _,
    "TextAnalysis.t15SeqPacking" -> TA.t15SeqPacking _)
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "Similarity.s11KnnPq" -> Similarity.s11KnnPq _)
  private val hashes = mutable.LinkedHashMap.empty[String, String]

  val unitsPerOp: Double = docs.toDouble
  val roundSize = 1

  def stage(s: SparkSession, fx: Int): Unit = ctx.spans("Tables.load") {
    Tables.documents(s, d).count()
    Tables.embeddings(s, d).count()
  }

  /** Runs one step and checks its output hash against the first run's. */
  private def run(s: SparkSession, name: String,
      f: (SparkSession, String) => DataFrame): Option[String] = {
    val df = ctx.spans(name) { f(s, d) }
    val h = ctx.spans("hash") { hashOf(df) }
    val first = hashes.getOrElseUpdate(name, h)
    if (first == h) None else Some(s"$name output hash $h differs from $first")
  }

  def op(s: SparkSession, fx: Int, i: Int): Unit =
    steps.foreach { case (name, f) =>
      run(s, name, f).foreach(m => throw new IllegalStateException(m))
    }

  def reads(s: SparkSession, fx: Int, i: Int): Seq[() => Option[String]] =
    queries.map { case (name, f) => () => run(s, name, f) }

  def finish(s: SparkSession, fx: Int, opsDone: Int, rec: mutable.Map[String, Any]): Unit =
    rec("output_hashes") = hashes.toMap
}
