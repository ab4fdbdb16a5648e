package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Engine, SnapshotTable => ST}
import graft.sources.Tables

/** The streaming side of the snapshot table: a `foreachBatch` sink that
  * commits each micro-batch through the manifest protocol with
  * EXACTLY-ONCE semantics.
  *
  * Structured Streaming's foreachBatch contract is at-least-once: after
  * a crash the restarted query replays the last unacknowledged batch
  * with the SAME batchId. The sink upgrades that to exactly-once the
  * way Delta's streaming sink does (txnAppId/txnVersion): every commit
  * stores the batch id in the manifest's metadata — atomically with the
  * file list it describes — and a writer first reads the current
  * version's metadata and SKIPS any batch at or below the recorded id.
  * Replay becomes a no-op; no row lands twice, no batch is lost.
  *
  * Scale shape: each micro-batch appends O(batch) new data files and
  * commits O(entries/shardSize) manifest shards + one pointer file; the
  * table's history is the stream's offset log. A 1000-executor cluster
  * runs the same code — the data-file write is a distributed Spark
  * write, and only the manifest commit (tiny, metadata-only) runs on
  * the driver, exactly where a table format's commit runs.
  */
object SnapshotSink {

  private val LastBatchKey = "last_batch"

  /** Append one micro-batch to the table, exactly once. Returns true if
    * this call committed, false if the batch id was already committed
    * (a replay — the no-op path a restarted query takes). Safe under
    * writer races: the manifest CAS detects a concurrent commit, the
    * loser re-reads (fresh entry list AND fresh last-batch id) and
    * retries or skips; retries are bounded with stale-claim reclaim
    * ([[graft.operators.SnapshotTable.CommitRetry]]) so a dead
    * committer's zero-byte claim can never wedge the stream. */
  /** Replace the table's WHOLE content with `df` as one exactly-once
    * versioned commit — the per-batch write of a small streaming-
    * maintained MATERIALIZED VIEW (st14): the MV is aggregate-sized,
    * so each replace writes O(MV), never O(source); a replayed batch
    * is a no-op via the same last-batch watermark appendBatch uses,
    * and old MV versions stay time-travelable. */
  private[graft] def replaceBatch(root: String, df: DataFrame, batchId: Long,
      keyCol: String, shardSize: Int = 4): Boolean =
    commitBatch(root, df, batchId, keyCol, shardSize,
      baseOf = _ => Nil, extraMeta = Map("statsCol" -> keyCol), tagPrefix = "mv")

  private[graft] def appendBatch(root: String, df: DataFrame, batchId: Long,
      keyCol: String = "ep_day", shardSize: Int = 4): Boolean =
    commitBatch(root, df, batchId, keyCol, shardSize,
      baseOf = v => if (v == 0) Nil else ST.manifestEntries(root, v),
      extraMeta = Map.empty, tagPrefix = "b")

  /** The ONE exactly-once batch-commit loop both sink shapes share
    * (append keeps the prior entries, replace starts from none): the
    * batch's data files are written ONCE, outside the commit-retry
    * loop — a CAS loss invalidates the manifest attempt, not the
    * immutable data files (uuid-tagged so attempts never collide;
    * abandoned files are unreferenced and vacuum reclaims them). One
    * file PER TASK: the batch lands at the stream's own parallelism —
    * only the tiny manifest commit runs on the driver. carriedMeta
    * keeps the statsCol and other streams' epoch watermarks alive
    * across commits; the shared CommitRetry policy bounds the loop. */
  private def commitBatch(root: String, df: DataFrame, batchId: Long,
      keyCol: String, shardSize: Int,
      baseOf: Int => Seq[graft.operators.SnapshotTable.FileEntry],
      extraMeta: Map[String, String], tagPrefix: String): Boolean = {
    def lastCommitted(v: Int): Long =
      if (v == 0) -1L
      else ST.manifestMeta(root, v).get(LastBatchKey).map(_.toLong).getOrElse(-1L)
    if (batchId <= lastCommitted(ST.currentVersion(root))) return false
    val tag = f"$tagPrefix$batchId%05d_${java.util.UUID.randomUUID().toString.take(8)}"
    // the batch arrives under LOGICAL names; files carry physical ones
    // (identity for unmapped tables — the overwhelmingly common case).
    // CHECK constraints verify each row inside the write job (the
    // streaming sink is an INSERT route too — Delta enforces
    // invariants on it the same way): a violating batch fails before
    // its commit, and the exactly-once replay contract is preserved
    // because nothing was committed.
    val cv = ST.currentVersion(root)
    val map = ST.colMap(root, cv)
    // an IDENTITY column is engine-assigned (commit-time contiguous
    // claims off the row-tracking high-water mark) — a batch supplying
    // its own values would collide with the allocator, refuse
    ST.identityCol(root, cv).orElse(ST.pendingIdentity(root)).foreach(ic =>
      require(!df.columns.exists(_.equalsIgnoreCase(ic)),
        s"graft-snapshot sink on $root: column $ic is GENERATED ALWAYS AS " +
          "IDENTITY — omit it; the engine assigns dense ids at commit"))
    // reserved row-id spellings: a committed data column named
    // _row_id/__row_id would shadow (or be shadowed by) the engine's
    // row-id read — refuse at the write seam, same rule as validateIdent
    df.columns.find(n => n.equalsIgnoreCase("_row_id") ||
        n.equalsIgnoreCase("__row_id")).foreach(n =>
      throw new IllegalArgumentException(
        s"graft-snapshot sink on $root: $n is a reserved name (the row-id " +
          "read serves engine ids under it) — rename the column"))
    // ...and the manifest's file-size extra spelling (r19), same rule
    df.columns.find(_.equalsIgnoreCase(ST.BytesCol)).foreach(n =>
      throw new IllegalArgumentException(
        s"graft-snapshot sink on $root: $n is a reserved name (manifest " +
          "entries carry file sizes under it) — rename the column"))
    val plannedChecks = ST.checkConstraints(root, cv)
    // GENERATED columns the batch omits are computed here (Delta's
    // write-side convenience — a stream need not carry derivable
    // columns); columns the batch does carry flow into the per-row
    // invariant below instead. No-op for tables without gens.
    val generated = ST.withGeneratedColumns(df.sparkSession, root, df, Some(cv))
    val checked = ST.enforceChecks(generated, plannedChecks,
      s"streaming sink batch $batchId on $root")
    // distributed harvest above the small-batch threshold — a
    // complete-mode epoch can land a whole table's worth of files
    val entries = ST.harvestEntries(df.sparkSession, root,
      ST.writeDataFiles(ST.toPhysical(checked, map), root, tag),
      ST.physicalName(map, keyCol))
    val retry = new ST.CommitRetry(root)
    while (true) {
      val v = ST.currentVersion(root)
      retry.observed(v)
      if (batchId <= lastCommitted(v)) return false // raced replay: someone committed it
      // the batch's rows were checked against cv's constraints; a
      // racing ADD CONSTRAINT in between validated only ITS resident
      // data — committing the already-written files under the new
      // invariant would be unvalidated, so abort loudly (the stream
      // restarts and re-checks the replayed batch)
      if (ST.checkConstraints(root, v) != plannedChecks)
        throw new IllegalStateException(
          s"graft-snapshot sink: CHECK constraints of $root changed while " +
            s"batch $batchId was in flight — restart re-validates the batch")
      try {
        ST.commitEntries(root, v, baseOf(v) ++ entries,
          shardSize, ST.carriedMeta(root, v) ++ extraMeta +
            (LastBatchKey -> batchId.toString))
        // a CREATE-time identity declaration (pending marker) applies
        // on the table's first commit, whichever route lands it
        ST.applyPendingIdentity(df.sparkSession, root)
        return true
      } catch {
        case e: java.nio.file.FileAlreadyExistsException => retry.lost(e) // CAS lost: re-read, retry
      }
    }
    false // unreachable
  }

  /** st8's ingest-batch boundaries (epoch days; the events table spans
    * 19723..19752 at every SF): three day-aligned slices — the nightly
    * feed shape a warehouse ingests. */
  private[graft] val St8Cut1 = 19733L
  private[graft] val St8Cut2 = 19743L

  /** st8_stream_snapshot_sink — the end-to-end ingest path a production
    * churn warehouse runs: events arrive as chronological micro-batches
    * (file replay here, Kafka in deployment — [[StreamSource]]), each
    * batch is committed to a [[graft.operators.SnapshotTable]] with its
    * footer-harvested ep_day stats and its batch id, and the final
    * table — readable, time-travelable, stats-prunable — holds every
    * event exactly once. The returned day-grain aggregate over the
    * committed table therefore equals the same aggregate over the raw
    * event log, which is exactly what the DuckDB oracle computes.
    * StreamingSinkSpec replays a committed batch to pin the no-op path
    * and checks one manifest version per micro-batch. */
  def st8StreamSnapshotSink(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_st8_table")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ckpt = Engine.tmpDir("graft_st8_ckpt")
    Engine.listDir(Paths.get(ckpt)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "event_type", "value", "ep_day")
    val batches = Seq(
      "batch0" -> ev.filter(col("ep_day") < St8Cut1),
      "batch1" -> ev.filter(col("ep_day") >= St8Cut1 && col("ep_day") < St8Cut2),
      "batch2" -> ev.filter(col("ep_day") >= St8Cut2))
    val q = Streams.source.batched(s, "st8", ev.schema, batches)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // shardSize=2: the run's commits cross the inline→sharded
        // manifest threshold, so batch-id metadata provably survives
        // both layouts at gate scale
        appendBatch(root, batch, batchId, shardSize = 2); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    ST.read(s, root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val st8Sql: String =
    """WITH e AS (SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day, value
      |  FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** Merge one micro-batch's per-key state into the table, exactly
    * once — the streaming UPSERT sink (Delta's foreachBatch-MERGE
    * pattern): the batch's keys are combined with the table's current
    * rows (read-modify-write on ASSOCIATIVE state — sums add, maxes
    * max — so replays and batch boundaries can't change the result),
    * then committed copy-on-write through [[graft.operators
    * .SnapshotTable.merge]], whose manifest stats confine the rewrite
    * to files whose key range the batch touches. The batch id rides
    * the merge commit's metadata, so a replayed batch is detected and
    * skipped exactly as [[appendBatch]] does. Returns true iff this
    * call committed.
    *
    * Scale shape — BOTH sides of the read-modify-write are confined by
    * manifest stats, Delta's may-match-files MERGE discipline: the
    * read side scans only files whose [lo, hi] key stats intersect the
    * batch's key range (a key-subrange batch against a key-clustered
    * table opens a handful of files, never O(table) — the commit
    * records `upsert_scan: NofM` so the pruning is auditable from the
    * manifest alone), and the rewrite side is merge's own stats-pruned
    * copy-on-write. Safe under writer races like [[appendBatch]]: a
    * lost manifest CAS re-reads version, last-batch id AND table state,
    * then retries or skips — bounded by [[graft.operators.SnapshotTable
    * .CommitRetry]] with stale-claim reclaim. */
  private[graft] def upsertBatch(s: SparkSession, root: String,
      state: DataFrame, batchId: Long, keyCol: String): Boolean = {
    def lastCommitted(v: Int): Long =
      if (v == 0) -1L
      else ST.manifestMeta(root, v).get(LastBatchKey).map(_.toLong).getOrElse(-1L)
    if (batchId <= lastCommitted(ST.currentVersion(root))) return false // replay: no-op
    // the batch's key range drives read-side pruning; a scalar agg on
    // the (already tiny, per-key) batch state — the broadcast-scalar
    // pattern, not a table materialization
    val kb = state.agg(min(col(keyCol)), max(col(keyCol))).head()
    val retry = new ST.CommitRetry(root)
    while (true) {
      val v = ST.currentVersion(root)
      retry.observed(v)
      if (batchId <= lastCommitted(v)) return false // raced replay: someone committed it
      try {
        if (v == 0) {
          // first batch creates the table (merge needs a base version);
          // statsCol makes every later merge/DSv2 read key-prunable
          val tag = f"b$batchId%05d_${java.util.UUID.randomUUID().toString.take(8)}"
          val entries = ST.harvestEntries(state.sparkSession, root,
            ST.writeDataFiles(state, root, tag), keyCol)
          ST.commitEntries(root, 0, entries, shardSize = 4,
            Map("statsCol" -> keyCol, LastBatchKey -> batchId.toString))
          return true
        }
        if (kb.isNullAt(0)) { // empty batch: advance the id, carry entries
          ST.commitEntries(root, v, ST.manifestEntries(root, v), shardSize = 4,
            ST.carriedMeta(root, v) + (LastBatchKey -> batchId.toString))
          return true
        }
        val all = ST.manifestEntries(root, v)
        val cands = ST.prunedEntries(root, v, kb.getLong(0), kb.getLong(1))
        // combine only against may-match files: a key absent from every
        // candidate is absent from the table (stats pruning is sound),
        // so the full_outer over the pruned read is the full_outer over
        // the table restricted to the batch's keys — which is all the
        // left_semi below keeps anyway
        val current =
          if (cands.isEmpty) state.filter(lit(false))
          else ST.scanRels(s, root, v, cands.map(_.rel))
        val stateCols = state.columns.filterNot(_ == keyCol)
        // combine column-wise: table row ⊕ batch row where both exist
        val combined = current.as("t").join(state.as("b"), Seq(keyCol), "full_outer")
          .select(col(keyCol) +: stateCols.map {
            case c @ ("n_events" | "value_micros") =>
              (coalesce(col(s"t.$c"), lit(0L)) + coalesce(col(s"b.$c"), lit(0L))).as(c)
            case c @ "last_ts" =>
              greatest(coalesce(col(s"t.$c"), lit(Long.MinValue)),
                coalesce(col(s"b.$c"), lit(Long.MinValue))).as(c)
            case c => sys.error(s"upsertBatch: no combine rule for column $c")
          }.toIndexedSeq: _*)
          // only keys the batch touched become change rows — the merge
          // rewrite stays proportional to the batch, not the table
          .join(state.select(col(keyCol)), Seq(keyCol), "left_semi")
          .withColumn("op", lit("u"))
        ST.merge(s, root, keyCol, keyCol, combined,
          extraMeta = Map(LastBatchKey -> batchId.toString,
            "upsert_scan" -> s"${cands.size}of${all.size}"),
          baseVersion = v)
        return true
      } catch {
        case e: java.nio.file.FileAlreadyExistsException => retry.lost(e) // CAS lost: re-read, retry
      }
    }
    false // unreachable
  }

  /** st11_stream_upsert_sink — the CDC-style per-user state table a
    * churn product serves lookups from: each chronological micro-batch
    * is reduced to per-user deltas (count / exact decimal-micros value
    * sum / last-seen ts) and MERGED into a user-keyed snapshot table.
    * After the stream drains, the table equals the same aggregate over
    * the full log — which is exactly what the DuckDB oracle computes,
    * so the gate proves upsert-maintenance ≡ recompute. Value sums are
    * integer micros (decimal-scaled before the cast) to keep
    * cross-batch addition associative and engine-exact. */
  def st11StreamUpsertSink(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_st11_table")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ckpt = Engine.tmpDir("graft_st11_ckpt")
    Engine.listDir(Paths.get(ckpt)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "ts", "value", "ep_day")
    val batches = Seq(
      "batch0" -> ev.filter(col("ep_day") < St8Cut1),
      "batch1" -> ev.filter(col("ep_day") >= St8Cut1 && col("ep_day") < St8Cut2),
      "batch2" -> ev.filter(col("ep_day") >= St8Cut2))
    val q = Streams.source.batched(s, "st11", ev.schema, batches)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val state = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum((col("value").cast("decimal(18,6)") * 1000000).cast("long"))
              .as("value_micros"),
            max(col("ts")).as("last_ts"))
        upsertBatch(s, root, state, batchId, "user_id"); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    ST.read(s, root)
      // the table keeps exact nanos; the gate output is micro-grain
      // because DuckDB reads parquet TIMESTAMP(NANOS) at µs precision —
      // floor is monotonic, so max-then-floor ≡ floor-then-max
      .select(col("user_id"), col("n_events"), col("value_micros"),
        expr("last_ts div 1000").as("last_ts_us"))
      .orderBy("user_id")
  }

  val st11Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS value_micros,
      |  epoch_us(MAX(ts)) AS last_ts_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
}
