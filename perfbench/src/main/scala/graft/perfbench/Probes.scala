package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.StringType

import graft.functions._
import graft.operators.{Churn, Dedup, Engine, Similarity, SnapshotTable => ST, TextAnalysis => TA}
import graft.sources.Tables
import graft.streaming.{SnapshotSink, Streams}
import Util._

/** Untimed layer probes of a traced run, after its timed phase. Every traced
  * run probes every layer on inputs of the same shape (the generator adds
  * the tables a workload does not read), so each probe metric is measured
  * on every workload. */
object Probes {
  // input copies per kernel probe: enough rows that kernel time outweighs
  // per-job cost (text kernels cost microseconds per row, vector ones less)
  private val TextReplicas = 2
  private val VectorReplicas = 16
  private val NoopReps = 2

  /** The probe metrics, and the seconds each probe took. */
  def run(s: SparkSession, d: String, work: String): (Map[String, Double], Map[String, Double]) = {
    val parts = Seq[(String, () => Map[String, Double])](
      "snapshot" -> (() => snapshot(s, d, work)), "ml" -> (() => ml(s, d)),
      "kernels" -> (() => kernels(s, d)), "dedup" -> (() => dedup(s, d)),
      "streaming" -> (() => streaming(s, d)))
    val done = parts.map { case (name, probe) =>
      val t = tick
      val m = probe()
      (m, name -> since(t))
    }
    (done.flatMap(_._1).toMap, done.map(_._2).toMap)
  }

  /** A day-clustered table with deletion vectors: point lookups, sparse
    * deletion-vector DML and one append. */
  private def snapshot(s: SparkSession, d: String, work: String): Map[String, Double] = {
    val root = s"$work/probe_table"
    Engine.deleteRecursively(Paths.get(root))
    Files.createDirectories(Paths.get(root))
    ST.commitEntries(root, 0, ST.stageDayClustered(s, d, root), shardSize = 3,
      Map("statsCol" -> "ep_day"))
    ST.enableDeletionVectors(root)
    val lookups = (1 to 8).map(k => (0 until 16).map(j => (k * 7919L + j * 6007L) % 100000L))
    val (plan, files) = lookups.map { ids =>
      val t = tick
      val df = ST.readPointLookup(s, root, "event_id", ids)
      val p = since(t)
      df.collect()
      (p, PlanScan.filesRead(df.queryExecution.executedPlan).toDouble)
    }.unzip
    val bytes0 = dirBytes(root)
    val preds = Seq("event_id % 997 = 3", "event_id % 1009 = 7")
    val changed = preds.map(p => ST.read(s, root).where(p).count()).sum
    val dml = preds.zipWithIndex.map { case (p, i) =>
      val t = tick
      if (i % 2 == 0) s.sql(s"DELETE FROM '$root' WHERE $p").collect()
      else s.sql(s"UPDATE '$root' SET value = value + 1.0 WHERE $p").collect()
      since(t)
    }
    val batch = ST.read(s, root).limit(50).withColumn("event_id", col("event_id") + 10000000L)
    val t = tick
    SnapshotSink.appendBatch(root, batch, 1L, "ep_day")
    val append = since(t)
    Map("snapshot.read_plan_s" -> plan.sum / plan.size,
      "scan.files_per_lookup" -> files.sum / files.size,
      "snapshot.dml_s" -> dml.sum / dml.size,
      "snapshot.append_s" -> append,
      "snapshot.dv_sidecars" -> ST.dvState(root, ST.currentVersion(root)).size.toDouble,
      "snapshot.bytes_written_per_row_changed" ->
        (dirBytes(root) - bytes0).toDouble / math.max(1L, changed + 50))
  }

  /** The churn model: fit on the events (eager), then score every user. */
  private def ml(s: SparkSession, d: String): Map[String, Double] = {
    val t = tick
    val scores = graft.ml.ChurnModel.dailyScores(s, d, Churn.ev(s, d))
    val fit = since(t)
    val t2 = tick
    hashOf(scores)
    Map("ml.fit_s" -> fit, "ml.score_s" -> since(t2),
      "ml.lbfgs_iters" -> graft.ml.ChurnModel.lastFitIterations.toDouble)
  }

  private def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  private def noopSeconds(df: DataFrame): Double = {
    val ts = (0 until NoopReps).map { _ =>
      val t = tick
      df.write.format("noop").mode("overwrite").save()
      since(t)
    }
    ts.min
  }

  /** Kernel time per row: a noop write of the kernel's projection minus one
    * that only touches its input column (its length), over cached inputs
    * replicated so that per-row work outweighs per-job cost. */
  private def kernels(s: SparkSession, d: String): Map[String, Double] = {
    def replicated(df: DataFrame, n: Int) =
      cached(df.crossJoin(s.range(n).toDF("replica")).drop("replica"))
    def ns(in: DataFrame, kernel: Column): Double = {
      val c = in.columns.head
      val touch = in.schema(c).dataType match {
        case StringType => length(col(c))
        case _ => size(col(c))
      }
      val rows = in.count().toDouble
      math.max(0.0, noopSeconds(in.select(kernel)) - noopSeconds(in.select(touch))) * 1e9 / rows
    }
    // each kernel is probed before its output is cached as the next
    // kernel's input: a cached projection would answer the probe itself
    val texts = replicated(Tables.documents(s, d).select("text"), TextReplicas)
    val emb = replicated(Tables.embeddings(s, d).select("embedding"), VectorReplicas)
    val merges = TA.bpeMerges(s, d)
    val textKernels = Map(
      "kernel.shingle_hashes_ns_per_row" -> ns(texts, shingle_hashes(col("text"))),
      "kernel.simhash_bands_ns_per_row" -> ns(texts, simhash_bands(col("text"))),
      "kernel.bpe_token_count_ns_per_row" -> ns(texts, bpe_token_count(col("text"), merges)),
      "kernel.quantize_milli_ns_per_row" -> ns(emb, quantize_milli(col("embedding"))))
    val sh = cached(texts.select(shingle_hashes(col("text")).as("sh")).filter(size(col("sh")) > 0))
    val qv = cached(emb.select(quantize_milli(col("embedding")).as("qv")))
    // a fixed codebook from the first vectors: PqM subspaces of PqK codewords
    val first = qv.limit(Similarity.PqK).collect().map(_.getSeq[Long](0).map(_.toDouble)).toSeq
    val sub = first.head.size / Similarity.PqM
    val cb = (0 until Similarity.PqM).map(m => first.map(_.slice(m * sub, (m + 1) * sub)))
    val minhash = ns(sh, minhash_signature(col("sh"), 32))
    val encode = ns(qv, pq_encode(col("qv"), cb))
    val codes = cached(qv.select(pq_encode(col("qv"), cb).as("codes")))
    val lut = typedLit(cb.map(_.map(_.sum)))
    val out = textKernels ++ Map(
      "kernel.minhash_signature_ns_per_row" -> minhash,
      "kernel.pq_encode_ns_per_row" -> encode,
      "kernel.pq_adc_ns_per_row" -> ns(codes, pq_adc(lut, col("codes"))))
    Seq(texts, sh, emb, qv, codes).foreach(_.unpersist())
    out
  }

  /** The MinHash-LSH dedup funnel: candidates from d3's banding (8 bands of
    * 4 rows over a k=32 signature, re-derived here to count them), pairs
    * d3 confirms, and the label-propagation rounds over those pairs. */
  private def dedup(s: SparkSession, d: String): Map[String, Double] = {
    val sig = Tables.documents(s, d)
      .select(col("doc_id"), shingle_hashes(col("text")).as("sh")).filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhash_signature(col("sh"), 32).as("sig"))
    val bands = sig.select(col("doc_id"), posexplode(array((0 until 8).map { b =>
      xxhash64((0 until 4).map(r => element_at(col("sig"), b * 4 + r + 1)): _*)
    }: _*)).as(Seq("band", "bh")))
    val candidates = bands.as("a").join(bands.as("b"), col("a.band") === col("b.band") &&
        col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val pairs = Dedup.d3DedupMinhashLsh(s, d)
    val confirmed = pairs.count()
    val rounds = Dedup.propagateLabels(pairs.select("doc_a", "doc_b"))._2
    Map("dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.confirmed_pairs" -> confirmed.toDouble,
      "dedup.useful_ratio" -> confirmed.toDouble / math.max(1L, candidates),
      "dedup.cc_rounds" -> rounds.toDouble)
  }

  /** The streaming layer: st7's stream-stream join, st5's dedup and st8's
    * exactly-once snapshot sink, each run once with a StreamingQueryListener
    * on the session. Per data batch (idle progress reports carry no
    * addBatch phase and are skipped): its duration and its phases; state
    * is the last batch's, summed over the three queries. */
  private def streaming(s: SparkSession, d: String): Map[String, Double] = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      Seq(Streams.st7StreamStreamJoin _, Streams.st5StreamDedup _,
        SnapshotSink.st8StreamSnapshotSink _).foreach(f => hashOf(f(s, d)))
      BenchBus.drain(s.sparkContext)
    } finally s.streams.removeListener(listener)
    val batches = progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
    def phase(k: String) =
      batches.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum /
        math.max(1, batches.size)
    val last = batches.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    val ms = batches.map(_.batchDuration.toDouble).sorted
    Map("stream.batches" -> batches.size.toDouble,
      "stream.batch_ms_p50" -> (if (ms.isEmpty) 0.0 else ms(ms.size / 2)),
      "stream.addBatch_ms" -> phase("addBatch"),
      "stream.queryPlanning_ms" -> phase("queryPlanning"),
      "stream.walCommit_ms" -> phase("walCommit"),
      "stream.commitOffsets_ms" -> phase("commitOffsets"),
      "stream.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "stream.state_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble)
  }
}
