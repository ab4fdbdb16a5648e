package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysTrue, And, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SnapshotTable

/** DataSource V2 connector for the manifest-committed snapshot table —
  * the API surface a table format exposes to every Spark user, not just
  * callers of the Scala helpers:
  *
  *   - `spark.read.format("graft-snapshot").load(root)` — a batch scan
  *     pinned to the CURRENT version at planning time (snapshot
  *     isolation by construction: the file list is resolved once);
  *     `.option("version", n)` time-travels;
  *   - `spark.readStream.format("graft-snapshot").load(root)` — a
  *     micro-batch stream whose OFFSETS ARE TABLE VERSIONS: each
  *     trigger ingests the files appended by the next commit(s)
  *     (`maxVersionsPerTrigger`, default 1 — one commit per batch, the
  *     Delta/Iceberg streaming-read shape). Offsets are plain version
  *     numbers → checkpoint/restart replays the exact manifest diff,
  *     and since planning is pure manifest arithmetic the source is
  *     fully replayable (exactly-once with an idempotent sink).
  *     Commits that REMOVE files (merge/optimize rewrites) are not
  *     streamable and fail loudly rather than emitting wrong deltas —
  *     the append-only contract streaming reads of real table formats
  *     enforce by default. `.option("readChangeFeed", "true")` switches
  *     to the CHANGE DATA FEED mode that lifts that restriction: each
  *     commit's manifest diff streams as row-level `insert`/`delete`
  *     changes tagged `_change_type`/`_commit_version`, so DML commits
  *     upstream keep a downstream pipeline alive (see
  *     [[SnapshotCdfMicroBatchStream]] for the file-grain contract).
  *     The same option on a BATCH read serves the
  *     (`afterVersion`, `endingVersion`] window in one scan.
  *     NOTE the window naming: the batch option is `afterVersion`
  *     because it is EXCLUSIVE ("changes after this version" — the
  *     resume-token shape). `startingVersion` is REFUSED on the batch
  *     path: Delta's `table_changes(t, startingVersion)` is INCLUSIVE,
  *     and honoring the name with exclusive meaning silently dropped a
  *     commit for ported pipelines (a Delta migrant passes
  *     `afterVersion = delta_start - 1`). The STREAMING path keeps
  *     `startingVersion` as its initial offset (exclusive, the offset
  *     contract); `startingTimestamp` resolves a wall-clock instant to
  *     the first commit at-or-after it via the same commit-time source
  *     time travel uses (in-commit timestamps when present).
  *
  * Projection pushdown is real: `pruneColumns` narrows the parquet
  * record schema handed to the file reader, so a 2-column aggregate
  * over a wide table decodes 2 columns (SnapshotSourceSpec pins the
  * scan's readSchema). Each data file is one InputPartition — at
  * 100 TB planning ships (path, schema) pairs, never data, and task
  * parallelism is file-granular, the same unit the manifest commits
  * in. */
class SnapshotTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-snapshot: .load(<table root>) is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val r = root(options)
    // an EMPTY table (no committed version) has no schema yet — the
    // write path supplies the query's schema instead (first append
    // creates v1); reads of an empty table fail at scan build
    if (SnapshotTable.currentVersion(r) == 0) new StructType()
    else SnapshotSourceUtil.branchName(options) match {
      case Some(b) =>
        // the branch audit read (r20): schema resolves through the
        // branch's BASE version; the staged entries carry no schema
        // changes (appendToBranch's contract)
        require(options.get("version") == null,
          s"graft-snapshot: branch and version options conflict on $r — " +
            "a branch read IS a version choice")
        require(!SnapshotSourceUtil.cdfEnabled(options) &&
            !SnapshotSourceUtil.rowIdsEnabled(options),
          s"graft-snapshot: branch reads serve the staged SNAPSHOT of $r — " +
            "no change feed and no row-id contract until publish")
        schemaAt(r, SnapshotTable.branchState(r, b)._3, options)
      case None =>
        // the option takes a NUMBER or a TAG name (Iceberg's named refs)
        val v = Option(options.get("version"))
          .map(SnapshotTable.resolveVersionRef(r, _))
          .getOrElse(SnapshotTable.currentVersion(r))
        schemaAt(r, v, options)
    }
  }

  /** The exposed LOGICAL schema as of version `v`: renamed columns
    * surface under their current names, dropped columns don't surface
    * at all; a version-pinned load resolves schema AND mapping as of
    * ITS snapshot (time travel keeps the old names). Shared by
    * [[inferSchema]] and the tag-pinning branch of [[getTable]] so a
    * pinned ref's schema and scan derive from the SAME resolution. */
  private def schemaAt(r: String, v: Int,
      options: CaseInsensitiveStringMap): StructType = {
    val base = SnapshotSourceUtil.logicalStruct(
      SnapshotSourceUtil.sparkSchema(SnapshotSourceUtil.tableMessageType(r, v)),
      SnapshotTable.colMap(r, v))
    // change-data-feed reads surface the table schema plus the change
    // metadata columns (Delta's CDF column contract)
    if (SnapshotSourceUtil.cdfEnabled(options)) SnapshotSourceUtil.withCdfColumns(base)
    else {
      // an IDENTITY column surfaces on every plain read (it IS part
      // of the table's logical schema); CDF mode serves change rows
      // (data columns only — a diff row has no id contract)
      val withId = SnapshotSourceUtil.withIdentity(base, r, v)
      if (SnapshotSourceUtil.rowIdsEnabled(options)) {
        // `.option("rowIds", "true")`: the path-route spelling of the
        // x41 row-id read — the table schema plus `_row_id` (the
        // catalog route exposes the same column as a DSv2 METADATA
        // column, no option needed). Requires tracking AS OF the
        // scanned version: a pre-enable time travel has no id story.
        require(SnapshotTable.manifestMeta(r, v).get("rowtracking").contains("on"),
          s"graft-snapshot rowIds: row tracking is not enabled on $r at version $v " +
            "(SnapshotTable.enableRowTracking)")
        SnapshotSourceUtil.withRowIdColumn(withId)
      } else withId
    }
  }

  // the write path hands the incoming query's schema to getTable
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts0 = new CaseInsensitiveStringMap(properties)
    val r = root(opts0)
    // pin a TAG ref to its numeric version HERE, once, and REBUILD the
    // schema from that same resolution: inferSchema resolved the tag
    // independently, so a DROP TAG + re-point between the two calls —
    // or between load and the lazy scan build — would otherwise serve
    // one snapshot's schema over another snapshot's data. Everything
    // downstream derives from the one version pinned here.
    SnapshotSourceUtil.branchName(opts0) match {
      case Some(b) =>
        // pin the branch's BASE version here, once (same one-resolution
        // discipline as tags below): the scan still re-reads the
        // branch's ENTRY list lazily — a FAST FORWARD or DROP between
        // load and scan refuses loudly through branchState
        val base = SnapshotTable.branchState(r, b)._3
        val m = new java.util.HashMap[String, String](properties)
        m.put("version", base.toString)
        val opts = new CaseInsensitiveStringMap(m)
        return new SnapshotDsv2Table(r, schemaAt(r, base, opts), opts)
      case None => ()
    }
    Option(opts0.get("version")).filter(!_.forall(_.isDigit)) match {
      case Some(ref) =>
        val v = SnapshotTable.resolveVersionRef(r, ref)
        val m = new java.util.HashMap[String, String](properties)
        m.put("version", v.toString)
        val opts = new CaseInsensitiveStringMap(m)
        new SnapshotDsv2Table(r, schemaAt(r, v, opts), opts)
      case None => new SnapshotDsv2Table(r, schema, opts0)
    }
  }
}

private[sources] object SnapshotSourceUtil {

  /** Byte-budgeted streaming admission (Delta's `maxBytesPerTrigger`):
    * the newest version in `(cur, latest]` such that the admitted
    * window's DATA bytes fit `maxBytes` — pure manifest arithmetic
    * over the r19 `__bytes` entry sizes (pre-r19 entries degrade to
    * one stat each), reading only the manifests it actually admits
    * plus one, so a first catch-up on a deep-history table prices by
    * the BATCH it returns, not the backlog. A version's cost is its
    * newly-added files' bytes; with `bothSides` (the change feed,
    * which reads removed files to emit their delete rows) removed
    * files count too. The FIRST version past `cur` always admits even
    * over budget (Delta's contract — a single oversized commit must
    * not wedge the stream), and `maxVersions` caps the walk
    * regardless, so the batch-boundary-is-commit-boundary contract
    * holds under every option combination. Cost is an UPPER bound by
    * design: a skipped change commit's files never stream, and a
    * row-grain CDC commit reads its (small) change files instead of
    * the full add/remove pair — over-counting only under-admits,
    * never tears a commit. */
  def admitUpTo(root: String, cur: Int, latest: Int, maxVersions: Int,
      maxBytes: Option[Long], bothSides: Boolean): Int = {
    val capped = math.min(latest.toLong, cur.toLong + maxVersions).toInt
    maxBytes match {
      case None => capped
      case Some(budget) =>
        def byteMap(v: Int): Map[String, Long] =
          SnapshotTable.manifestEntries(root, v)
            .map(e => e.rel -> SnapshotTable.entryBytes(root, e)).toMap
        var v = cur
        var spent = 0L
        var prev = if (cur == 0) Map.empty[String, Long] else byteMap(cur)
        var stop = false
        while (!stop && v < capped) {
          val next = byteMap(v + 1)
          val cost = (next.keySet -- prev.keySet).toSeq.map(next).sum +
            (if (bothSides) (prev.keySet -- next.keySet).toSeq.map(prev).sum
             else 0L)
          if (v > cur && spent + cost > budget) stop = true
          else { spent += cost; v += 1; prev = next }
        }
        v
    }
  }

  /** Change-data-feed metadata columns (Delta's CDF names): every CDF
    * row carries its change kind and the commit version that produced
    * it. `_commit_timestamp` is deliberately absent — manifest mtimes
    * are resolvable but not replay-stable, and the version IS the
    * replayable identity of a commit. */
  val CdfTypeCol = "_change_type"
  val CdfVersionCol = "_commit_version"
  val CdfTimestampCol = "_commit_timestamp"

  def cdfEnabled(o: CaseInsensitiveStringMap): Boolean =
    "true".equalsIgnoreCase(o.get("readChangeFeed"))

  /** The row-id read's OUTPUT column (x41): the logical name
    * [[SnapshotTable.readWithRowIds]] serves, now also the connector's
    * — `.option("rowIds", "true")` on the path route, a DSv2 metadata
    * column (`SELECT _row_id, ...`) on the catalog route. */
  val RowIdField = "_row_id"

  def rowIdsEnabled(o: CaseInsensitiveStringMap): Boolean =
    "true".equalsIgnoreCase(o.get("rowIds"))

  /** `.option("branch", "<name>")` — read a BRANCH's staged state
    * (base snapshot + staged appends) through the standard reader:
    * the audit read of write-audit-publish on the route every Spark
    * user already takes. Resolves through the branch's BASE version
    * for schema/colmap/DV purposes (staging never changes them). */
  def branchName(o: CaseInsensitiveStringMap): Option[String] =
    Option(o.get("branch")).filter(_.nonEmpty)

  def withRowIdColumn(base: StructType): StructType = {
    require(!base.fieldNames.contains(RowIdField),
      s"graft-snapshot rowIds: table columns collide with $RowIdField")
    base.add(RowIdField, LongType, nullable = true)
  }

  /** Append the version's IDENTITY column (engine-assigned, = the row
    * tracking id under a user-facing name) to a resolved logical
    * schema — the connector twin of [[SnapshotTable.readAt]]'s
    * identity append. */
  def withIdentity(base: StructType, root: String, v: Int): StructType =
    SnapshotTable.identityCol(root, v) match {
      case Some(ic) if !base.fieldNames.contains(ic) =>
        base.add(ic, LongType, nullable = true)
      case _ => base
    }

  /** The nested field mapping TREES by PHYSICAL parent column name:
    * `pa -> ColNode` — NESTED column mappings (dotted colmap entries,
    * x44; ARBITRARY depth since r19) resolve on EVERY DSv2 route:
    * [[logicalStruct]] rebuilds mapped struct columns field-for-field
    * for schema exposure, the reader factories translate logical field
    * names through these trees when building their positional decode
    * plans, and the task WRITER translates the same way so landed
    * files carry physical names beside residents. The factories'
    * namespace is physical at the top level (physStruct renamed it)
    * but struct INNER field names stay logical at every depth — this
    * is the translation both sides resolve through. Empty when the
    * table has no dotted colmap entries (the common case — zero
    * cost). */
  def nestedFieldMaps(map: Option[Seq[(String, String)]])
      : Map[String, SnapshotTable.ColNode] = map match {
    case None => Map.empty
    case Some(m0) =>
      val t = SnapshotTable.parseColTree(m0)
      t.children.map { case (parentLogical, node) =>
        (SnapshotTable.physicalName(Some(t.fields), parentLogical), node)
      }
  }

  /** Re-attach column-DEFAULT metadata (the analyzer's
    * CURRENT_DEFAULT/EXISTS_DEFAULT fill keys) from the manifest's
    * `default.<col>` state — the footer-derived schema carries none. */
  def withDefaults(base: StructType, root: String, v: Int): StructType = {
    val ds = SnapshotTable.columnDefaults(root, v)
    if (ds.isEmpty) base
    else StructType(base.fields.map { f =>
      ds.collectFirst { case (c, sql) if c.equalsIgnoreCase(f.name) => sql } match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build())
        case None => f
      }
    })
  }

  def withCdfColumns(base: StructType): StructType = {
    require(!base.fieldNames.exists(n =>
        n == CdfTypeCol || n == CdfVersionCol || n == CdfTimestampCol),
      s"graft-snapshot: table columns collide with CDF metadata " +
        s"($CdfTypeCol/$CdfVersionCol/$CdfTimestampCol)")
    base.add(CdfTypeCol, StringType, nullable = false)
      .add(CdfVersionCol, LongType, nullable = false)
      // Delta's third CDF column: the producing commit's wall-clock
      // (in-commit timestamp when present — see SnapshotTable
      // .commitTimeMillis)
      .add(CdfTimestampCol, org.apache.spark.sql.types.TimestampType,
        nullable = false)
  }

  /** The table's parquet record schema, from the FIRST manifest entry's
    * footer — one metadata read. Mixed-width (schema-evolved) versions
    * are rejected: the connector serves uniform-schema tables; evolved
    * snapshots read through `SnapshotTable.readAt`'s merge path. */
  /** StructType → parquet record schema, for the WRITE side (the exact
    * reverse of [[sparkSchema]], so a written table reads back with the
    * same StructType). */
  def messageType(schema: StructType): MessageType = {
    import org.apache.parquet.schema.Types
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(parquetType(f.name, f.dataType, f.nullable)))
    b.named("spark_schema")
  }

  /** Spark type → parquet type for the WRITE side — primitives plus
    * (r16) nested STRUCTS as groups, the exact reverse of
    * [[sparkType]]. */
  private def parquetType(name: String,
      dt: org.apache.spark.sql.types.DataType,
      nullable: Boolean): org.apache.parquet.schema.Type = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    val rep = if (nullable) org.apache.parquet.schema.Type.Repetition.OPTIONAL
      else org.apache.parquet.schema.Type.Repetition.REQUIRED
    dt match {
      case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(name)
      case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(name)
      case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(name)
      case FloatType => Types.primitive(PrimitiveTypeName.FLOAT, rep).named(name)
      case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(name)
      case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case st: StructType =>
        val g = Types.buildGroup(rep)
        st.fields.foreach(f => g.addField(parquetType(f.name, f.dataType, f.nullable)))
        g.named(name)
      case ArrayType(et, containsNull) =>
        // the standard 3-level LIST encoding — byte-identical shape to
        // what Spark's own parquet writer emits, so a CTAS'd array
        // table reads back through ANY parquet reader
        Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(parquetType("element", et, containsNull)).named("list"))
          .named(name)
      case MapType(kt, vt, valueContainsNull) =>
        Types.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup()
            .addField(parquetType("key", kt, nullable = false))
            .addField(parquetType("value", vt, valueContainsNull))
            .named("key_value"))
          .named(name)
      case other => sys.error(s"graft-snapshot write: unsupported type $other ($name)")
    }
  }

  private def footerSchema(root: String, rel: String): MessageType =
    ParquetFooters.withFooter(new HadoopPath(Paths.get(root, rel).toUri))(
      (r, _) => r.getFooter.getFileMetaData.getSchema)

  def tableMessageType(root: String): MessageType =
    tableMessageType(root, SnapshotTable.currentVersion(root))

  /** Version-pinned variant — time travel (`VERSION AS OF`) plans with
    * the schema AS OF that snapshot, so a later widening never leaks
    * phantom columns into a historical read. */
  def tableMessageType(root: String, v: Int): MessageType = {
    require(v > 0, s"graft-snapshot: $root has no committed version")
    val entries = SnapshotTable.manifestEntries(root, v)
    val meta = SnapshotTable.manifestMeta(root, v)
    // a widening commit that CAPTURED the union (#schemaJson) makes
    // evolved planning zero-footer here too: the capture is
    // all-nullable, so the write-side converter emits the same
    // OPTIONAL-field union the footer sweep would. Captures with types
    // outside the converter's set fall through to the footer union.
    val captured = meta.get("schemaJson").flatMap { js =>
      scala.util.Try(messageType(
        DataType.fromJson(js).asInstanceOf[StructType])).toOption
    }
    // EVOLVED (mixed-width) and WIDENED versions read through per-file
    // requests; since r17 those handle NESTED columns too (each file's
    // request carries its own declarations and the decode plans follow
    // them), so add-column evolution over a struct/array/map-bearing
    // table is in-envelope — the union below enforces that the nested
    // columns THEMSELVES never change shape across files (add-column
    // evolution only, same rule as primitives).
    if (captured.isDefined) captured.get
    else if (entries.isEmpty)
      // a zero-entry version (delete-all) is plannable only through
      // its schema capture — refuse with an accurate diagnosis instead
      // of crashing on entries.head: either no capture exists (a
      // legacy empty commit) or its types exceed the connector's
      // envelope (the Try above swallowed the conversion)
      throw new IllegalStateException(s"graft-snapshot: version $v of $root has no " +
        "file entries and " +
        (if (meta.contains("schemaJson"))
          "its schema capture uses types outside the connector's envelope"
        else "no schema capture") +
        " — read it through SnapshotTable.readAt")
    else if (!meta.contains("schema"))
      // the overwhelmingly common case: uniform-width files — ONE
      // footer read prices the whole planning step
      footerSchema(root, entries.head.rel)
    else {
      // evolved (mixed-width) version: the table schema is the UNION of
      // the file schemas, in first-appearance order — the same answer
      // parquet mergeSchema resolves, priced the same way (a footer
      // read per file, planning-time only, no data pages). The reader
      // side null-fills per file (see SnapshotReaderFactory).
      val seen = new java.util.LinkedHashMap[String, org.apache.parquet.schema.Type]()
      val hits = new java.util.HashMap[String, Integer]()
      val optionalCarrier = new java.util.HashSet[String]()
      entries.foreach { e =>
        footerSchema(root, e.rel).getFields.asScala.foreach { f =>
          val prev = seen.putIfAbsent(f.getName, f)
          if (f.isPrimitive) {
            require(prev == null || (prev.isPrimitive &&
                prev.asPrimitiveType().getPrimitiveTypeName ==
                  f.asPrimitiveType().getPrimitiveTypeName &&
                prev.asPrimitiveType().getLogicalTypeAnnotation ==
                  f.asPrimitiveType().getLogicalTypeAnnotation),
              // primitive name alone is not type identity: plain INT64
              // vs timestamp-annotated INT64 share it but decode
              // differently — the annotation must agree too (ADVICE r10)
              s"graft-snapshot: evolved table $root has conflicting types for " +
                s"column ${f.getName}: $prev vs $f — add-column evolution only")
          } else {
            // NESTED columns (r17): structural identity up to
            // repetition — a CoW rewrite legitimately flips inner
            // REQUIRED to OPTIONAL and reorders fields, so compare the
            // nullable-normalized Spark types, not the raw
            // declarations; a genuinely different shape (new field,
            // retyped element) refuses like a primitive conflict
            require(prev == null || (!prev.isPrimitive &&
                nullNormalized(sparkType(f)) == nullNormalized(sparkType(prev))),
              s"graft-snapshot: evolved table $root has conflicting nested " +
                s"types for column ${f.getName}: $prev vs $f — add-column " +
                "evolution only (nested columns themselves cannot evolve)")
          }
          if (!f.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))
            optionalCarrier.add(f.getName)
          hits.merge(f.getName, 1, (a, b) => a + b)
        }
      }
      val fields: Iterable[org.apache.parquet.schema.Type] = seen.values().asScala.map { f =>
        // a column absent from ANY file surfaces null there, so the
        // union field must be OPTIONAL even if every carrier file
        // declared it REQUIRED; likewise a column REQUIRED in the first
        // file but OPTIONAL in another may hold nulls — the union takes
        // the WEAKEST repetition across carriers, not the first file's
        val rep =
          if (hits.get(f.getName) == entries.size
              && !optionalCarrier.contains(f.getName)) f.getRepetition
          else org.apache.parquet.schema.Type.Repetition.OPTIONAL
        if (f.isPrimitive) {
          val p = f.asPrimitiveType()
          val b = org.apache.parquet.schema.Types.primitive(p.getPrimitiveTypeName, rep)
          (if (p.getLogicalTypeAnnotation != null) b.as(p.getLogicalTypeAnnotation) else b)
            .named(p.getName)
        } else if (rep == f.getRepetition) f
        else {
          // same group, demoted top-level repetition (the union is a
          // PLANNING artifact — per-file requests substitute each
          // file's own declaration before any read)
          val g = f.asGroupType()
          val b0 = org.apache.parquet.schema.Types.buildGroup(rep)
          val b = if (g.getLogicalTypeAnnotation != null)
            b0.as(g.getLogicalTypeAnnotation) else b0
          g.getFields.asScala.foreach(b.addField)
          b.named(g.getName)
        }
      }
      new MessageType("spark_schema", fields.toList.asJava: java.util.List[org.apache.parquet.schema.Type])
    }
  }

  /** Every nullability flag forced true, recursively — structural
    * type identity up to repetition (the evolution union's nested
    * comparison; Spark's own asNullable is private[spark]). */
  private[sources] def nullNormalized(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case StructType(fs) => StructType(fs.map(f =>
      StructField(f.name, nullNormalized(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(nullNormalized(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(nullNormalized(kt), nullNormalized(vt), valueContainsNull = true)
    case other => other
  }

  /** Does the FILE's nested type structurally serve the REQUESTED one?
    * Containment, not equality: nested column PRUNING narrows the
    * request (a `SELECT a.b` reads struct<b> from files carrying
    * struct<b,c>) and a CoW rewrite legitimately reorders inner fields
    * (decode plans match by name) — so extra file fields and order
    * divergence must pass. A MISSING requested field or a retyped one
    * must refuse: inner fields never evolve (add-column evolution
    * stops at the top level). Nullability is ignored (repetition flips
    * are legit per-file variance). The per-file reader uses this to
    * refuse a divergent nested file AT READER BUILD with the file and
    * column named, instead of dying mid-task on a positional
    * mis-decode — the read-side close of the schemaJson capture branch
    * bypassing the footer union's conflict check (r17 note): captured
    * (zero-footer) planning never sweeps footers, so a hand-registered
    * divergent file used to surface as an opaque decode error. */
  private[sources] def structurallyServes(file: org.apache.spark.sql.types.DataType,
      want: org.apache.spark.sql.types.DataType): Boolean = (file, want) match {
    case (StructType(ff), StructType(wf)) =>
      wf.forall(w => ff.exists(f =>
        f.name == w.name && structurallyServes(f.dataType, w.dataType)))
    case (ArrayType(fe, _), ArrayType(we, _)) => structurallyServes(fe, we)
    case (MapType(fk, fv, _), MapType(wk, wv, _)) =>
      structurallyServes(fk, wk) && structurallyServes(fv, wv)
    case _ => file == want
  }

  /** Parquet type → Spark type: primitives plus (r16) NESTED GROUPS
    * as StructType plus (r17) LIST/MAP logical-type groups as
    * ArrayType/MapType — the standard THREE-LEVEL repeated-group
    * encoding (what Spark, Arrow and DuckDB all write: `<rep> group c
    * (LIST) { repeated group list { <rep> T element; } }`). Decode is
    * POSITIONAL, so the inner names (`list`/`element` vs `array` vs
    * `item`) don't matter — the shape is the contract. Legacy 2-level
    * lists (a bare REPEATED field) stay refused loudly. */
  private[sources] def sparkType(f: org.apache.parquet.schema.Type): org.apache.spark.sql.types.DataType = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    // a bare REPEATED field (parquet's legacy 2-level list) is outside
    // the envelope whatever its kind — a repeated PRIMITIVE would
    // otherwise map to its scalar type and the reader's (j, 0) access
    // would silently serve only element 0 of each row's list (r16
    // review); the standard 3-level encoding never reaches here (its
    // repeated inner group is consumed by the LIST/MAP branches below)
    require(!f.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED),
      s"graft-snapshot: bare repeated field ${f.getName} (legacy 2-level " +
        "list) is outside the connector's envelope — read through " +
        "SnapshotTable.readAt")
    if (f.isPrimitive) f.asPrimitiveType().getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 => LongType
      case PrimitiveTypeName.INT32 => IntegerType
      case PrimitiveTypeName.DOUBLE => DoubleType
      case PrimitiveTypeName.FLOAT => FloatType
      case PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveTypeName.BINARY => StringType
      case other => sys.error(s"graft-snapshot: unsupported column type $other (${f.getName})")
    } else {
      val g = f.asGroupType()
      def repeatedInner(expectFields: Int, what: String): org.apache.parquet.schema.GroupType = {
        require(g.getFieldCount == 1 && !g.getType(0).isPrimitive &&
            g.getType(0).isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED) &&
            g.getType(0).asGroupType().getFieldCount == expectFields,
          s"graft-snapshot: $what column ${f.getName} is not the standard " +
            "3-level repeated-group encoding — read through SnapshotTable.readAt")
        g.getType(0).asGroupType()
      }
      g.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
          val el = repeatedInner(1, "LIST").getType(0)
          ArrayType(sparkType(el),
            !el.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))
        case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
          val kv = repeatedInner(2, "MAP")
          MapType(sparkType(kv.getType(0)), sparkType(kv.getType(1)),
            !kv.getType(1).isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))
        case _ =>
          StructType(g.getFields.asScala.map(x =>
            StructField(x.getName, sparkType(x),
              !x.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))).toSeq)
      }
    }
  }

  def sparkSchema(m: MessageType): StructType = StructType(m.getFields.asScala.map { f =>
    StructField(f.getName, sparkType(f),
      !f.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))
  }.toSeq)

  /** The parquet request schema for a pruned column set — field order
    * follows the pruned StructType, which is also the output row
    * layout. */
  def projectedMessage(full: MessageType, pruned: StructType): MessageType =
    new MessageType(full.getName,
      pruned.fields.map(f => full.getType(full.getFieldIndex(f.name))).toList.asJava)

  /** Load a deletion-vector sidecar's ordinal set (executor- or
    * driver-side; sidecars are tiny by the selectivity cap). */
  def loadDvSet(path: String): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    val r = ParquetReader.builder(new GroupReadSupport(), new HadoopPath(path))
      .withConf(ParquetFooters.hadoopConf).build()
    var g = r.read()
    while (g != null) { set.add(g.getLong("idx", 0)); g = r.read() }
    r.close()
    set
  }

  /** Physical (file-named) struct → the LOGICAL schema the table's
    * column mapping exposes: mapped fields rename, unmapped (dropped)
    * fields disappear, order follows the mapping. NESTED entries (r17;
    * ARBITRARY depth since r19) rebuild a mapped struct column's field
    * list the same way, recursively. Identity when the table has no
    * mapping. */
  def logicalStruct(physical: StructType,
      map: Option[Seq[(String, String)]]): StructType = map match {
    case None => physical
    case Some(m0) => logicalStructNode(physical, SnapshotTable.parseColTree(m0))
  }

  private def logicalStructNode(physical: StructType,
      node: SnapshotTable.ColNode): StructType =
    StructType(node.fields.flatMap { case (l, p) =>
      physical.fields.find(_.name == p).map { f =>
        node.children.get(l) match {
          case Some(child) if f.dataType.isInstanceOf[StructType] =>
            f.copy(name = l, dataType =
              logicalStructNode(f.dataType.asInstanceOf[StructType], child))
          case _ => f.copy(name = l)
        }
      }
    })

  /** Logical-named struct → physical field names (CDF metadata columns
    * and anything unmapped pass through). The reader factories operate
    * entirely in the physical namespace — output rows are positional,
    * so only `readSchema()` speaks logical. */
  def physStruct(logical: StructType,
      map: Option[Seq[(String, String)]]): StructType = map match {
    case None => logical
    case Some(_) => StructType(logical.fields.map(f =>
      f.copy(name = SnapshotTable.physicalName(map, f.name))))
  }
}

private[sources] class SnapshotDsv2Table(root: String, schema: StructType,
    options: CaseInsensitiveStringMap,
    pinnedVersion: Option[Int] = None)
    extends Table with SupportsRead with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** The catalog-route spelling of the x41 row-id read: on a
    * row-tracked table `_row_id` is a DSv2 METADATA column — `SELECT
    * _row_id, * FROM cat.tbl` (or `.table(...).select("_row_id", ...)`)
    * resolves it like Delta's row-id metadata field, and the scan
    * serves coalesce(materialized __row_id, file base + position)
    * exactly as [[SnapshotTable.readWithRowIds]] does. Empty when
    * tracking is off AS OF this table's version (time travel before the
    * enable commit has no id story) or when the schema already carries
    * the column (the path route's `rowIds` option put it there — a
    * second, conflicting declaration would shadow it). */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val v = pinnedVersion.getOrElse(SnapshotTable.currentVersion(root))
    val tracked = v > 0 &&
      SnapshotTable.manifestMeta(root, v).get("rowtracking").contains("on")
    if (!tracked || schema0.fieldNames.contains(SnapshotSourceUtil.RowIdField))
      Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = SnapshotSourceUtil.RowIdField
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable(): Boolean = true
      override def comment(): String =
        "stable row identity (row tracking): survives appends, DV DML, " +
          "copy-on-write rewrites and OPTIMIZE"
    })
  }
  override def name(): String = pinnedVersion match {
    case Some(v) => s"graft_snapshot(`$root`@v$v)"
    case None => s"graft_snapshot(`$root`)"
  }
  override def schema(): StructType = schema0
  private val schema0 = schema
  /** The user-facing table state for `SHOW TBLPROPERTIES` / DESCRIBE
    * EXTENDED — the same keys the SET/UNSET TBLPROPERTIES routes
    * accept (flags, constraints, generation expressions) plus the
    * read-only operational markers. Computed on demand (only the SHOW
    * path calls it), one driver-side manifest read. */
  override def properties(): java.util.Map[String, String] = {
    val v = pinnedVersion.getOrElse(SnapshotTable.currentVersion(root))
    val meta = if (v == 0) Map.empty[String, String]
      else SnapshotTable.manifestMeta(root, v)
    val shown = Set("cdf", "dvmode", "rowtracking", "statsCol", "identity")
    val out = new java.util.HashMap[String, String]()
    meta.foreach { case (k, va) =>
      if (shown.contains(k) || k.startsWith("check.") || k.startsWith("gen.") ||
          k.startsWith("default."))
        out.put(k, va) }
    out
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (pinnedVersion.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // a time-travel load pins every scan to its snapshot, overriding
    // any reader-supplied version option — the catalog already
    // resolved the AS OF clause to this table instance
    val eff = pinnedVersion match {
      case Some(v) =>
        val m = new java.util.HashMap[String, String](o.asCaseSensitiveMap())
        m.put("version", v.toString)
        new CaseInsensitiveStringMap(m)
      case None => o
    }
    new SnapshotScanBuilder(root, schema0, eff)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"graft-snapshot: cannot write to a time-travel snapshot of $root")
    // a DSv2 write with a branch option would silently land on MAIN —
    // staging goes through SnapshotTable.appendToBranch (the verb that
    // owns the branch-manifest CAS), never this route
    require(SnapshotSourceUtil.branchName(info.options()).isEmpty &&
        SnapshotSourceUtil.branchName(options).isEmpty,
      s"graft-snapshot: writes take no branch option on $root — stage with " +
        "SnapshotTable.appendToBranch and publish with FAST FORWARD BRANCH")
    new SnapshotWriteBuilder(root, info)
  }

  /** DELETE FROM ... WHERE through the standard row-level API —
    * copy-on-write like [[SnapshotTable.merge]]: manifest stats prune
    * the rewrite to files that CAN hold matching rows; untouched files'
    * entries (and their footer stats) carry to the new version
    * verbatim, so at 100 TB a day-targeted delete rewrites a day's
    * files, not the table. Rows where the predicate is NULL are kept
    * (SQL DELETE removes only WHERE=TRUE rows). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(SnapshotFilterSql.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(pinnedVersion.isEmpty,
      s"graft-snapshot: cannot delete from a time-travel snapshot of $root")
    val s = org.apache.spark.sql.SparkSession.active
    val v = SnapshotTable.currentVersion(root)
    if (v == 0) return // empty table: nothing to delete
    val carried = SnapshotTable.carriedMeta(root, v)
    val statsCol = carried.get("statsCol")
    val entries = SnapshotTable.manifestEntries(root, v)
    val cands = statsCol match {
      case Some(c0) =>
        // filters name LOGICAL columns; the stats column's meta name is
        // physical — match on its logical name (identity when unmapped)
        val c = SnapshotTable.logicalName(SnapshotTable.colMap(root, v), c0)
        val bounds = filters.flatMap(SnapshotScanBuilder.bound(_, c))
        if (bounds.isEmpty) entries
        else {
          val (qlo, qhi) = (bounds.map(_._1).max, bounds.map(_._2).min)
          entries.filter(e => e.lo <= qhi && e.hi >= qlo)
        }
      case None => entries
    }
    if (cands.isEmpty) return // stats prove no file holds a match
    val cond = filters.map(f => SnapshotFilterSql.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-snapshot DELETE: unsupported predicate $f"))).reduce(_ && _)
    // mirror readAt: on a schema-evolved table (the `schema` marker —
    // mixed-width files) the rewrite must resolve the UNION schema, or
    // the sample-footer width silently drops evolved columns from every
    // surviving row in a wider candidate file
    // the predicate names LOGICAL columns: convert the candidate read
    // to the logical view (dropped physicals ride along inert) and
    // back to physical names for the rewrite (see SnapshotTable.delete)
    val map = SnapshotTable.colMap(root, v)
    val kept = SnapshotTable.toLogicalFull(
        SnapshotTable.readRelsDv(s, root, v, cands.map(_.rel)), map)
      .filter(not(coalesce(cond, lit(false))))
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val rels = SnapshotTable.writeDataFiles(
      SnapshotTable.toPhysical(kept, map), root, s"del_$tag")
    // zero-row part files are not manifested (see SnapshotTable.delete)
    val fresh = rels.map(SnapshotTable.footerEntry(root, _, statsCol.getOrElse("")))
      .filter(_.rows > 0)
    // commitRewrite carries untouched files from whatever version the
    // commit lands on (so a racing append survives), drops evolution
    // markers on a full rewrite, and aborts loudly if a concurrent
    // committer rewrote the candidate files this delete read
    SnapshotTable.commitRewrite(root, v, cands.map(_.rel).toSet, fresh,
      shardSize = 16, "delete",
      emptySchemaJson = Some(SnapshotTable.allNullableJson(
        SnapshotTable.readAtPhysical(s, root, v).schema)))
  }
}

/** V1 `sources.Filter` → `Column` for the delete path — the common
  * predicate shapes; anything else makes `canDeleteWhere` answer false
  * so Spark rejects the statement instead of silently over-deleting. */
private[sources] object SnapshotFilterSql {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c) => toColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _ => None
  }
}

private[graft] class SnapshotScanBuilder(root: String, full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  private var pruned: StructType = full
  private var pushed = Array.empty[Filter]
  /** A completely-pushed aggregation's (schema, answer row), computed
    * from the manifest at plan time — None for ordinary scans. */
  private var aggAnswer: Option[(StructType, Array[Any])] = None

  // the CDF metadata columns enter the schema in the provider's
  // inferSchema — only the PATH load route runs it. A catalog-name load
  // resolves the table schema without them, and serving change rows
  // whose kind is indistinguishable would be silently wrong — refuse.
  require(!SnapshotSourceUtil.cdfEnabled(options) ||
      full.fieldNames.contains(SnapshotSourceUtil.CdfTypeCol),
    s"graft-snapshot CDF: the resolved schema of $root carries no " +
      s"${SnapshotSourceUtil.CdfTypeCol} column — read the change feed through the " +
      "path route: spark.read/readStream.format(\"graft-snapshot\")" +
      ".option(\"readChangeFeed\", \"true\").load(<table root>)")

  private val version = Option(options.get("version"))
    .map(SnapshotTable.resolveVersionRef(root, _))
    .getOrElse(
      // a branch read without an explicit version resolves through the
      // branch BASE (r20 review): the path route's provider pins it,
      // but the catalog route reaches this builder with bare options —
      // resolving to the current version there would apply current
      // colmap/DV state to base-vintage staged entries
      SnapshotSourceUtil.branchName(options)
        .map(b => SnapshotTable.branchState(root, b)._3)
        .getOrElse(SnapshotTable.currentVersion(root)))

  /** Branch audit read (r20): the ENTRY LIST comes from the branch
    * head (base + staged appends) instead of a committed version;
    * schema/colmap/DV state resolve through `version` (the base — the
    * provider pinned it). Resolved lazily so a FAST FORWARD or DROP
    * BRANCH between load and scan refuses loudly. */
  private val branchEntries: Option[Seq[SnapshotTable.FileEntry]] =
    SnapshotSourceUtil.branchName(options).map { b =>
      require(!SnapshotSourceUtil.cdfEnabled(options) &&
          !SnapshotSourceUtil.rowIdsEnabled(options),
        s"graft-snapshot: branch reads serve the staged SNAPSHOT of $root — " +
          "no change feed and no row-id contract until publish")
      SnapshotTable.branchState(root, b)._1
    }
  /** Which column the manifest's per-file [lo, hi] stats describe —
    * recorded by the committer as `#statsCol` metadata. Absent → no
    * stats pruning (scan everything; always sound). */
  // NOTE: statsCol meta stores a PHYSICAL name; filters arrive under
  // LOGICAL names, so matching runs on its logical name (identity when
  // unmapped; dropColumn refuses to unmap the stats column)
  private val statsCol: Option[String] =
    if (version > 0)
      SnapshotTable.manifestMeta(root, version).get("statsCol")
        .map(c => SnapshotTable.logicalName(SnapshotTable.colMap(root, version), c))
    else None

  /** Every column a comparison filter can prune FILES on (r20):
    * logical name → physical name for each top-level signed-integral
    * column of the table schema. The manifest's per-entry stats are a
    * primary [lo, hi] (the statsCol) plus `extra` per-column ranges the
    * commit-time harvest now collects for every such column — so a
    * predicate on a NON-cluster column (`WHERE user_id = ?` on a
    * day-clustered table) narrows the planned file set too, exactly
    * Delta's multi-column file skipping. Entries without the stat
    * (pre-r20 commits, all-null files) serve the never-pruned sentinel:
    * pruning is sound by construction, the residual filter re-checks
    * rows either way. Restricted to plain integral logical types — a
    * DecimalType/DateType literal's long() coercion would compare a
    * SCALED value against unscaled footer ints, an unsound judgment. */
  private val prunableCols: Map[String, String] =
    if (version == 0) Map.empty
    else {
      val map = SnapshotTable.colMap(root, version)
      full.fields.iterator.filter(f => f.dataType == LongType ||
          f.dataType == IntegerType ||
          f.dataType == org.apache.spark.sql.types.ShortType ||
          f.dataType == org.apache.spark.sql.types.ByteType)
        .map(f => f.name -> SnapshotTable.physicalName(map, f.name))
        .toMap
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands the required columns in table-schema order; an empty
    // projection (count(*)) still decodes zero columns per row
    pruned = requiredSchema

  /** When the stats column is GENERATED from a single input by a
    * whitelisted monotone expression (x40), filters on the INPUT
    * derive bounds on the stats column — see
    * [[SnapshotScanBuilder.monotoneGenMapper]]. Resolved once per
    * scan build; None for the overwhelmingly common ungenerated case. */
  private lazy val genDerive: Option[(String, Long => Option[Long])] =
    statsCol.flatMap { sc =>
      if (version == 0) None
      else {
        val meta = SnapshotTable.manifestMeta(root, version)
        SnapshotTable.gensOf(meta).get(sc).flatMap { ge =>
          val spark = org.apache.spark.sql.SparkSession.active
          SnapshotTable.checkReferencedCols(spark, ge) match {
            case Seq(in) =>
              // the strict-bound tightening in deriveOnStats assumes
              // an INTEGRAL input domain (in < v ⇒ in <= v-1)
              val integral = full.fields.find(_.name == in).exists(f =>
                f.dataType == org.apache.spark.sql.types.LongType ||
                  f.dataType == org.apache.spark.sql.types.IntegerType ||
                  f.dataType == org.apache.spark.sql.types.ShortType ||
                  f.dataType == org.apache.spark.sql.types.ByteType)
              if (!integral) None
              else SnapshotScanBuilder.monotoneGenMapper(in, ge).map((in, _))
            case _ => None
          }
        }
      }
    }

  /** File-level stats pruning through the STANDARD API: comparison
    * filters on the manifest's stats column narrow the planned file
    * set. Every filter is returned as residual — stats prune FILES,
    * Spark's re-applied predicate prunes rows within survivors, so
    * pushdown is never unsound (same split as [[SnapshotTable
    * .readPruned]], now automatic for any `.filter(...)`). Filters on
    * a generated stats column's INPUT additionally derive stats-column
    * bounds (the derived filter is a FILE judgment only — the input
    * filter itself stays residual like everything else). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a filter prunes files when it bounds ANY stats-carrying column —
    // the declared statsCol or any auto-harvested integral column
    // (r20); derived bounds additionally map generated-column inputs
    // onto the stats column. Tables with no statsCol meta keep the
    // pre-r20 contract (no pruning) — their manifests predate the
    // general harvest, so extras would be absent anyway.
    pushed = statsCol match {
      case Some(_) =>
        val direct = filters.filter(f =>
          prunableCols.keys.exists(c => SnapshotScanBuilder.bound(f, c).isDefined))
        val derived = statsCol.toArray.flatMap(c =>
          genDerive.toArray.flatMap { case (in, g) =>
            filters.flatMap(SnapshotScanBuilder.deriveOnStats(_, in, c, g))
          })
        direct ++ derived
      case None => Array.empty
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) with no grouping and no filters is a MANIFEST READ: the
    * commit-time footer row counts sum to the answer without touching
    * one data byte — the metadata-only query every table format
    * special-cases. Spark only attempts aggregate pushdown when no
    * filter remains above the scan, and pushFilters always returns
    * residuals, so a filtered count can never reach this path. */
  /** MANIFEST-ANSWERED aggregates (r19 widens the COUNT(*) fast path
    * to MIN/MAX of the stats column): an ungrouped, unfiltered
    * COUNT(*)/MIN(statsCol)/MAX(statsCol) — any mix — is answered from
    * the manifest's footer-harvested row counts and [lo, hi] bounds in
    * ONE zero-IO partition. `SELECT max(ep_day) FROM events` — the
    * freshness probe every ingest dashboard runs — reads no data bytes
    * at any table size. Soundness: parquet INT64 statistics are EXACT
    * and null-skipping exactly like Min/Max; disqualified whenever any
    * entry lacks genuine stats (the stat-less sentinel is
    * indistinguishable from a real Long.MinValue/MaxValue extremum),
    * under CDF (the feed's cardinality is the DIFF's) or deletion
    * vectors (a DV'd row may hold the extremum), or for any other
    * column/shape — Spark then aggregates the ordinary scan. Filters
    * can never reach this path: pushFilters keeps every filter
    * residual, and Spark only pushes aggregates below an empty
    * residual. */
  private def manifestAgg(agg: Aggregation): Option[(StructType, Array[Any])] = {
    if (SnapshotSourceUtil.cdfEnabled(options)) return None
    if (version > 0 && SnapshotTable.dvState(root, version).nonEmpty) return None
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty) return None
    val entries = if (version == 0) Nil
      else branchEntries.getOrElse(SnapshotTable.manifestEntries(root, version))
    val rowsKnown = entries.forall(_.rows >= 0)
    // min/max serve ANY column whose stats EVERY entry genuinely
    // carries (r20 — the general per-column harvest makes that most
    // integral columns on current tables), at its declared type; the
    // stat-less sentinel on any one entry disqualifies the column
    // (it is indistinguishable from a real Long.MinValue/MaxValue
    // extremum), so the answer is exact or not served at all
    val physPrimary: String =
      if (version > 0)
        SnapshotTable.manifestMeta(root, version).getOrElse("statsCol", "")
      else ""
    def colBounds(name: String): Option[(Long, Long, StructField)] =
      full.fields.find(_.name == name)
        .filter(f => f.dataType == LongType || f.dataType == IntegerType)
        .flatMap { fld =>
          if (entries.isEmpty) Some((0L, 0L, fld)) // null-served below
          else {
            val p = prunableCols.getOrElse(name, name)
            val bs = entries.map(_.statsFor(p, physPrimary))
            if (bs.forall(b => !(b._1 == Long.MinValue && b._2 == Long.MaxValue)))
              Some((bs.map(_._1).min, bs.map(_._2).max, fld))
            else None
          }
        }
    def named(e: org.apache.spark.sql.connector.expressions.Expression):
        Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }
    def typed(v: Long, dt: DataType): Any =
      if (dt == IntegerType) v.toInt else v
    val cols: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar if rowsKnown =>
          Some((StructField("count(*)", LongType, nullable = false),
            entries.map(_.rows).sum: Any))
        case m: Min => named(m.column).flatMap(colBounds).map { case (lo, _, f) =>
          (StructField(s"min(${f.name})", f.dataType),
            if (entries.isEmpty) null else typed(lo, f.dataType)) }
        case m: Max => named(m.column).flatMap(colBounds).map { case (_, hi, f) =>
          (StructField(s"max(${f.name})", f.dataType),
            if (entries.isEmpty) null else typed(hi, f.dataType)) }
        case _ => None
      }
    if (cols.exists(_.isEmpty)) None
    else Some((StructType(cols.map(_.get._1)), cols.map(_.get._2).toArray))
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    manifestAgg(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggAnswer = manifestAgg(agg)
    aggAnswer.isDefined
  }

  override def build(): Scan =
    new SnapshotScan(root, version, pruned, pushed.toSeq, statsCol, prunableCols,
      aggAnswer, options, branchEntries)
}

private[graft] object SnapshotScanBuilder {
  private def long(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue)
    case _ => None
  }

  /** Derived-filter file pruning for GENERATED stats columns (Delta's
    * partition filter generation): when the stats column is generated
    * from ONE input by a provably monotone, overflow-free expression —
    * chains of `div <positive literal>` with widening casts, the
    * canonical day-bucket shape `(ts div 1e9) div 86400` — a pushed
    * filter on the INPUT maps to a bound on the stats column by
    * EVALUATING the generation expression at the filter's constants,
    * so file pruning fires for queries that never mention the derived
    * column. Soundness: truncating division by a positive constant is
    * monotone non-decreasing over ALL longs and cannot overflow, so
    * input ∈ [a,b] ⇒ gen ∈ [g(a), g(b)] for every representable
    * input; the generated-column invariant (x40) guarantees the
    * STORED values ARE g(input); and the original filter always stays
    * residual, so rows are re-checked regardless. Anything outside the
    * whitelist simply doesn't derive (no pruning — always sound). */
  private[sources] def monotoneGenMapper(input: String,
      exprSql: String): Option[Long => Option[Long]] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{LongType => CLong, DecimalType, DoubleType, IntegerType, ShortType, ByteType}
    val spark = org.apache.spark.sql.SparkSession.active
    val resolved = scala.util.Try {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(input, CLong))))
      val p = empty.select(org.apache.spark.sql.functions.expr(exprSql)
        .cast("long").as("__g")).queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      val a = p.projectList.head.asInstanceOf[Alias].child
      BindReferences.bindReference(a, p.child.output)
    }.toOption
    def posLit(e: Expression): Boolean = e.foldable && (e.eval() match {
      case n: java.lang.Number => n.longValue > 0
      case _ => false
    })
    // value-preserving integral→long widenings ONLY: a narrowing cast
    // wraps, a float cast loses precision past 2^53, and a DECIMAL
    // cast can overflow to NULL in non-ANSI sessions — any of these
    // makes g partial/non-monotone and the derived bound unsound
    // (r14 review: decimal was wrongly whitelisted)
    def wideCast(c: Cast): Boolean = c.dataType == CLong &&
      (c.child.dataType == CLong || c.child.dataType == IntegerType ||
        c.child.dataType == ShortType || c.child.dataType == ByteType)
    def mono(e: Expression): Boolean = e match {
      case _: BoundReference => true
      case c: Cast => wideCast(c) && mono(c.child)
      case d: IntegralDivide => mono(d.left) && posLit(d.right)
      case _ => false
    }
    resolved.flatMap { b =>
      val refs = b.collect { case r: BoundReference => r }
      if (refs.size != 1 || !mono(b)) None
      else Some { (v: Long) =>
        scala.util.Try(Option(b.eval(
          org.apache.spark.sql.catalyst.InternalRow(v)))
          .map(_.asInstanceOf[Long])).toOption.flatten
      }
    }
  }

  /** Translate a filter on the generation INPUT into the equivalent
    * bound on the generated stats column. The input column is INTEGRAL
    * (the caller guards), so strict bounds tighten to inclusive ones a
    * step in — `in < v` ⇒ `in <= v-1` ⇒ `gen <= g(v-1)` — saturating
    * at the domain edges; g itself is monotone, not strictly so. */
  private[sources] def deriveOnStats(f: Filter, input: String,
      statsCol: String, g: Long => Option[Long]): Option[Filter] = f match {
    case EqualTo(c, v) if c == input => long(v).flatMap(g).map(EqualTo(statsCol, _))
    case GreaterThan(c, v) if c == input =>
      long(v).map(x => if (x == Long.MaxValue) x else x + 1)
        .flatMap(g).map(GreaterThanOrEqual(statsCol, _))
    case GreaterThanOrEqual(c, v) if c == input =>
      long(v).flatMap(g).map(GreaterThanOrEqual(statsCol, _))
    case LessThan(c, v) if c == input =>
      long(v).map(x => if (x == Long.MinValue) x else x - 1)
        .flatMap(g).map(LessThanOrEqual(statsCol, _))
    case LessThanOrEqual(c, v) if c == input =>
      long(v).flatMap(g).map(LessThanOrEqual(statsCol, _))
    case In(c, vs) if c == input && vs.nonEmpty =>
      val mapped = vs.flatMap(v => long(v).flatMap(g))
      if (mapped.length == vs.length) Some(In(statsCol, mapped.map(Long.box).toArray))
      else None
    case _ => None
  }
  /** The runtime-filter path needs the same literal coercion. */
  private[sources] def longValue(v: Any): Option[Long] = long(v)
  /** The [lo, hi] key range a filter on the stats column admits; None =
    * not a stats-prunable filter. Strict bounds SATURATE at the domain
    * edges instead of wrapping (x > Long.MaxValue would otherwise admit
    * the whole domain and silently degrade to a full scan; the residual
    * filter keeps either way correct — this keeps it also pruned). */
  def bound(f: Filter, statsCol: String): Option[(Long, Long)] = f match {
    case EqualTo(c, v) if c == statsCol => long(v).map(x => (x, x))
    case GreaterThan(c, v) if c == statsCol => long(v).map(x =>
      (if (x == Long.MaxValue) Long.MaxValue else x + 1, Long.MaxValue))
    case GreaterThanOrEqual(c, v) if c == statsCol => long(v).map(x => (x, Long.MaxValue))
    case LessThan(c, v) if c == statsCol => long(v).map(x =>
      (Long.MinValue, if (x == Long.MinValue) Long.MinValue else x - 1))
    case LessThanOrEqual(c, v) if c == statsCol => long(v).map(x => (Long.MinValue, x))
    case In(c, vs) if c == statsCol && vs.nonEmpty =>
      val ls = vs.flatMap(long(_))
      if (ls.length == vs.length) Some((ls.min, ls.max)) else None
    case _ => None
  }
}

private[sources] class SnapshotScan(root: String, version: Int,
    pruned: StructType, pushed: Seq[Filter], statsCol: Option[String],
    prunableCols: Map[String, String],
    aggAnswer: Option[(StructType, Array[Any])],
    options: CaseInsensitiveStringMap,
    branchEntries: Option[Seq[SnapshotTable.FileEntry]] = None)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  private def aggOnly: Boolean = aggAnswer.isDefined

  // nested (dotted) colmap entries resolve through the reader
  // factories' field-name translation (r17; arbitrary depth r19) —
  // shared by the plain, rowIds and CDF decode plans below
  private val nestedMap: Map[String, SnapshotTable.ColNode] =
    if (version == 0) Map.empty
    else SnapshotSourceUtil.nestedFieldMaps(SnapshotTable.colMap(root, version))

  /** Runtime (join-driven) file pruning — the DSv2 analog of dynamic
    * partition pruning: Spark evaluates the dim side of a join first,
    * hands the fact scan the resulting key set as an In/EqualTo filter
    * on [[filterAttributes]], and [[filter]] re-prunes the planned file
    * set against the manifest's [lo, hi] stats BEFORE partitions are
    * planned. At 100 TB a star join probing a handful of days opens
    * those days' files, not the table — without any static predicate in
    * the query text. Sound by the same argument as pushed filters:
    * stats exclude whole files only when NO row can match (the join
    * itself re-applies the condition row-wise). */
  /** Columns whose file-level stats can judge a filter (r20: the
    * statsCol plus every auto-harvested integral column), logical →
    * physical. The manifest's primary [lo, hi] answers the statsCol;
    * `extra` ranges answer the rest; a column absent from an entry's
    * extras serves the never-pruned sentinel — judgments are sound on
    * any manifest vintage. */
  private val judgeCols: Map[String, String] =
    prunableCols ++ statsCol.map(sc => sc -> prunableCols.getOrElse(sc, sc))
  /** The PHYSICAL statsCol name — what entry.statsFor treats as the
    * primary-range column. */
  private val primaryPhys: String =
    statsCol.map(sc => prunableCols.getOrElse(sc, sc)).getOrElse("")

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // an aggregate-answered scan outputs the answer row, not table
    // columns — nothing to runtime-filter on (the answers are computed
    // from the FULL manifest at plan time, so advertising the stats
    // column here would invite filters the answer ignores)
    // only columns the scan actually OUTPUTS: Spark resolves these refs
    // against the projected schema, so advertising a pruned-away
    // column fails analysis (the projection dropped it — no join can
    // runtime-filter on it anyway)
    if (aggOnly || statsCol.isEmpty) Array.empty
    else judgeCols.keys.toArray.filter(pruned.fieldNames.contains).sorted
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  private var runtimeKeep: Option[SnapshotTable.FileEntry => Boolean] = None
  override def filter(filters: Array[Filter]): Unit = if (statsCol.isDefined) {
    val keeps = filters.flatMap { f =>
      judgeCols.iterator.flatMap { case (c, p) =>
        f match {
          case In(a, vs) if a == c =>
            val longs = vs.flatMap(SnapshotScanBuilder.longValue)
            // non-numeric key values: no sound file-level judgment — keep all
            if (longs.length != vs.length) None
            else Some((e: SnapshotTable.FileEntry) => {
              val (l, h) = e.statsFor(p, primaryPhys)
              longs.exists(v => l <= v && h >= v)
            })
          case _ => SnapshotScanBuilder.bound(f, c).map { case (qlo, qhi) =>
            (e: SnapshotTable.FileEntry) => {
              val (l, h) = e.statsFor(p, primaryPhys)
              l <= qhi && h >= qlo
            }
          }
        }
      }.toSeq
    }
    if (keeps.nonEmpty)
      runtimeKeep = Some(e => keeps.forall(_(e))) // filters AND together
  }

  /** Manifest-derived size/row statistics for Catalyst's planner —
    * without these a DSv2 relation defaults to "huge"
    * (spark.sql.defaultSizeInBytes) and a small snapshot table can
    * NEVER be auto-broadcast: every join against it sort-merges. The
    * estimate is the POST-PRUNING file set (pushed filters narrow it),
    * pure driver-side metadata: commit-time footer row counts AND
    * byte sizes summed from the manifest (r19 — pre-r19 entries fall
    * back to one `Files.size` stat each) — no data IO, exactly how
    * Delta/Iceberg feed the same API. At 100 TB the manifest path
    * matters: a per-scan stat sweep over 10^6 planned files is 10^6
    * driver-side HEAD requests on object storage, per query. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val entries = plannedEntries
    private val bytes: java.util.OptionalLong =
      try java.util.OptionalLong.of(
        entries.map(e => e.bytes.getOrElse(
          java.nio.file.Files.size(Paths.get(root, e.rel)))).sum)
      catch { case _: java.io.IOException => java.util.OptionalLong.empty() }
    private val rows: java.util.OptionalLong =
      if (entries.forall(_.rows >= 0))
        java.util.OptionalLong.of(entries.map(_.rows).sum)
      else java.util.OptionalLong.empty() // a stat-less legacy entry: unknown
    override def sizeInBytes(): java.util.OptionalLong = bytes
    override def numRows(): java.util.OptionalLong = rows
  }

  override def readSchema(): StructType =
    aggAnswer.map(_._1).getOrElse(pruned)
  override def description(): String = aggAnswer match {
    case Some((sch, _)) =>
      s"graft-snapshot $root ${sch.fieldNames.mkString(",")} from manifest"
    case None =>
      s"graft-snapshot $root cols=[${pruned.fieldNames.mkString(",")}]" +
        (if (pushed.nonEmpty) s" pruneBy=[${pushed.mkString(",")}]" else "")
  }

  private val cdfMode = SnapshotSourceUtil.cdfEnabled(options)

  /** The scan serves the row-tracking id whenever the projection asks
    * for it — as `_row_id` via the path route's `rowIds` option or the
    * catalog route's metadata column, and/or under the table's
    * IDENTITY column name; all spellings funnel here (a projection may
    * carry both — same value twice). Requires tracking as of the
    * scanned version: the option route checked at schema inference,
    * the metadata route and identity by construction — this is the
    * belt-and-braces guard for externally-supplied schemas. */
  private val identCol: Option[String] =
    if (version > 0 && !cdfMode) SnapshotTable.identityCol(root, version) else None
  private val idOutNames: Set[String] = pruned.fieldNames.filter(n =>
    (!cdfMode && n == SnapshotSourceUtil.RowIdField) || identCol.contains(n)).toSet
  private val rowIdMode = idOutNames.nonEmpty
  require(!rowIdMode || (version > 0 &&
      SnapshotTable.manifestMeta(root, version).get("rowtracking").contains("on")),
    s"graft-snapshot rowIds: row tracking is not enabled on $root at version $version")
  require(!(cdfMode && SnapshotSourceUtil.rowIdsEnabled(options)),
    "graft-snapshot: rowIds and readChangeFeed are mutually exclusive — change " +
      "rows are commit diffs, not snapshot rows, and carry no id contract")

  /** Row-id read: the inner parquet request is the projection's TABLE
    * columns PLUS `__row_id` (INT64 OPTIONAL). Evolved (per-file
    * intersecting) mode unconditionally: materialized files carry the
    * column, positional files don't, and the intersection machinery
    * already resolves exactly that per-file variance — a positional
    * file's `__row_id` slot decodes null and the reader falls back to
    * file base + position (the same coalesce rule as
    * [[SnapshotTable.readWithRowIds]]). */
  private def rowIdFactory: SnapshotRowIdReaderFactory = {
    // nested columns (structs/lists/maps) decode through the per-file
    // machinery since r17: each file's request carries ITS OWN
    // declarations and the nested decode plans follow them (inner
    // layout and repetitions can diverge per file after CoW rewrites)
    val map = SnapshotTable.colMap(root, version)
    val basePhys = SnapshotSourceUtil.physStruct(StructType(
      pruned.fields.filterNot(f => idOutNames.contains(f.name))), map)
    val full = SnapshotSourceUtil.tableMessageType(root, version)
    val msg = SnapshotSourceUtil.projectedMessage(full, basePhys)
    val withId = new MessageType(msg.getName,
      (msg.getFields.asScala.toList :+ org.apache.parquet.schema.Types
        .primitive(PrimitiveTypeName.INT64,
          org.apache.parquet.schema.Type.Repetition.OPTIONAL)
        .named(SnapshotTable.RowIdCol)).asJava:
        java.util.List[org.apache.parquet.schema.Type])
    val innerPruned = basePhys.add(SnapshotTable.RowIdCol, LongType, nullable = true)
    // a declared START WITH offsets the IDENTITY spelling only —
    // `_row_id` stays the raw 0-based engine id on every route
    val starts: Map[String, Long] = identCol match {
      case Some(ic) if idOutNames.contains(ic) =>
        val st = SnapshotTable.identityStart(root, version)
        if (st == 0L) Map.empty else Map(ic -> st)
      case _ => Map.empty
    }
    SnapshotRowIdReaderFactory(withId.toString, innerPruned,
      SnapshotSourceUtil.physStruct(pruned, map), idOutNames, nestedMap, starts)
  }

  private def factory: SnapshotReaderFactory = {
    // the SCAN's version, not the current one: a time-travel read must
    // request the parquet schema as of its snapshot (nullability and
    // width can both differ after later rewrites)
    val full = SnapshotSourceUtil.tableMessageType(root, version)
    // evolved (mixed-width) versions pay the per-file request
    // intersection in the reader; uniform tables keep the zero-extra-IO
    // fast path (the flag is the same one readAt gates mergeSchema on).
    // Type-WIDENED versions (`widen`) are evolved the same way: files
    // narrower than the schema of record need the per-file request
    // (and the reader's per-slot upcast) to decode correctly.
    // nested-bearing projections stay on the SAME shared-request fast
    // path: parquet materializes group fields BY NAME under the
    // request, so inner-order divergence across files is handled, and
    // the reader auto-degrades a single file to per-file mode iff its
    // repetitions genuinely mismatch (see the fallback in
    // SnapshotReaderFactory — zero extra IO unless a file refuses)
    val evolved = version > 0 && {
      val m = SnapshotTable.manifestMeta(root, version)
      m.contains("schema") || m.contains("widen")
    }
    // reader namespace is PHYSICAL (files' own names): translate the
    // pruned projection through the version's column mapping; output
    // rows are positional, so readSchema() stays logical
    val prunedPhys = SnapshotSourceUtil.physStruct(pruned,
      SnapshotTable.colMap(root, version))
    SnapshotReaderFactory(
      SnapshotSourceUtil.projectedMessage(full, prunedPhys).toString, prunedPhys,
      evolved, nestedMap)
  }

  /** CDF reader: the parquet request carries only the TABLE columns of
    * the projection; the change metadata columns are per-partition
    * constants appended by the wrapper. Always per-file-intersecting
    * (`evolved = true`): a delete partition reads a file committed
    * under an OLDER — possibly narrower — width than the scan's
    * resolved schema, and the feed must null-fill those gaps exactly
    * like an evolved snapshot read (one footer pre-read per changed
    * file — batch-proportional, the CDC price). */
  private def cdfFactory: SnapshotCdfReaderFactory = {
    // nested columns (structs/lists/maps) decode through the per-file
    // machinery since r17: each changed file's request carries ITS
    // OWN declarations and the nested decode plans follow them (a CoW
    // rewrite can reorder inner fields and flip repetitions per file)
    // physical namespace throughout (see factory): table columns
    // translate through the mapping; CDF metadata columns are never
    // mapped and pass through
    val map = SnapshotTable.colMap(root, version)
    val base = SnapshotSourceUtil.physStruct(StructType(pruned.fields.filterNot(f =>
      f.name == SnapshotSourceUtil.CdfTypeCol ||
        f.name == SnapshotSourceUtil.CdfVersionCol ||
        f.name == SnapshotSourceUtil.CdfTimestampCol)), map)
    val outPhys = SnapshotSourceUtil.physStruct(pruned, map)
    val full = SnapshotSourceUtil.tableMessageType(root, version)
    SnapshotCdfReaderFactory(
      SnapshotSourceUtil.projectedMessage(full, base).toString, base, outPhys,
      nestedMap)
  }

  /** The version's entries that survive the pushed filters' combined
    * key range (intersection of bounds — filters AND together). */
  private def plannedEntries: Seq[SnapshotTable.FileEntry] = {
    // version 0 = a created-but-never-written table (catalog CREATE
    // TABLE before the first INSERT): a valid empty scan, no manifest
    if (version == 0) return Nil
    val all = branchEntries.getOrElse(SnapshotTable.manifestEntries(root, version))
    // per-column pruning (r20): every pushed filter that bounds a
    // stats-carrying column judges each entry's harvested range for
    // THAT column — filters AND together, so an entry survives only if
    // every bound intersects its stats. Pre-r20 manifests carry extras
    // only for the statsCol (and z-order pairs): other columns serve
    // the sentinel and never prune — sound on any vintage.
    val bounds: Seq[(String, (Long, Long))] =
      if (statsCol.isEmpty) Nil
      else pushed.flatMap(f =>
        judgeCols.keysIterator.flatMap(c =>
          SnapshotScanBuilder.bound(f, c).map(c -> _)).toSeq)
    val statically =
      if (bounds.isEmpty) all
      else all.filter { e =>
        bounds.forall { case (c, (qlo, qhi)) =>
          val (l, h) = e.statsFor(judgeCols(c), primaryPhys)
          l <= qhi && h >= qlo
        }
      }
    runtimeKeep.fold(statically)(statically.filter)
  }

  override def toBatch: Batch = {
    // batch CDF: all changes in the (startingVersion, endingVersion]
    // window in one scan, same file-grain rows and metadata columns as
    // the streaming feed. startingVersion is EXCLUSIVE — "changes
    // after this version", matching the streaming feed's initial
    // offset; Delta's table_changes startingVersion is inclusive, so a
    // migrating caller passes delta_start - 1 (documented in the
    // provider scaladoc). Defaults: startingVersion 0 (whole history
    // as inserts+deletes), endingVersion the current version. Stats pruning is
    // NOT applied (the planned set is the manifest DIFF, not a
    // snapshot); pushed filters still run residually above the scan.
    if (cdfMode) return new Batch {
      private val endV = Option(options.get("endingVersion")).map(_.toInt)
        .getOrElse(version)
      // the batch window option is `afterVersion` — named for its
      // EXCLUSIVE semantics. `startingVersion` is REFUSED here (ADVICE
      // r13): Delta's table_changes treats it as inclusive, so honoring
      // the same name with exclusive meaning silently dropped one
      // commit's changes from every ported pipeline. The streaming
      // path keeps `startingVersion` as its resume-token initial
      // offset (exclusive there matches the offset contract).
      require(options.get("startingVersion") == null,
        "graft-snapshot batch CDF: use afterVersion=<v> (EXCLUSIVE — changes " +
          "after that version; Delta's inclusive startingVersion maps to " +
          "afterVersion = startingVersion - 1). startingVersion is refused on " +
          "the batch path because the name implies Delta's inclusive semantics")
      private val startV = Option(options.get("afterVersion")).map(_.toInt).getOrElse(0)
      require(startV >= 0 && endV <= version && startV <= endV,
        s"graft-snapshot CDF: version window ($startV, $endV] out of range (table at $version)")
      override def planInputPartitions(): Array[InputPartition] =
        SnapshotCdf.partitions(root, startV, endV)
      override def createReaderFactory(): PartitionReaderFactory = cdfFactory
    }
    new Batch {
    // version + file list pinned at PLAN time: later commits never
    // tear this scan. Each partition carries its file's deletion-
    // vector sidecar (if any) — the reader skips those ordinals.
    private val dv = if (version > 0) SnapshotTable.dvState(root, version)
      else Map.empty[String, String]
    // row-id reads ship each file's base id in its partition — pure
    // manifest arithmetic (the rowbase map), resolved once at plan time
    private val bases = if (rowIdMode) SnapshotTable.rowBases(root, version)
      else Map.empty[String, Long]
    private val files =
      if (aggOnly) Array.empty[SnapshotFilePartition]
      else plannedEntries.map(e => SnapshotFilePartition(
        Paths.get(root, e.rel).toString,
        dv.get(e.rel).map(d => Paths.get(root, d).toString),
        bases.get(e.rel))).toArray
    override def planInputPartitions(): Array[InputPartition] =
      aggAnswer match {
        case Some((_, values)) => Array(SnapshotAggPartition(values))
        case None => files.map(p => p: InputPartition)
      }
    override def createReaderFactory(): PartitionReaderFactory =
      // zero planned files (empty table / everything pruned): the
      // factory is never invoked, and building the real one would
      // footer-read a data file that may not exist
      if (aggOnly || files.isEmpty) SnapshotAggReaderFactory
      else if (rowIdMode) rowIdFactory
      else factory
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // `startingTimestamp` (Delta's option): resolve a wall-clock
    // instant to the FIRST commit at-or-after it — via the same commit
    // clock time travel uses (in-commit timestamps when present) — and
    // stream from that commit INCLUSIVE, i.e. initial offset = its
    // parent. Accepts epoch millis or a UTC `yyyy-MM-dd[ T]HH:mm:ss[.SSS]`
    // literal. A timestamp AFTER the latest commit starts at the
    // current version (only future commits stream — Delta's contract).
    // If the resolved commit's PARENT was vacuumed away, the feed
    // cannot prove no commit between the timestamp and the resolved
    // version was lost — refuse loudly instead of silently skipping
    // history (pass startingVersion to accept the retained window).
    val tsRaw = Option(options.get("startingTimestamp"))
    require(tsRaw.isEmpty || options.get("startingVersion") == null,
      "graft-snapshot: startingTimestamp and startingVersion are mutually exclusive")
    // `.option("rowIds")` stays a BATCH contract; an IDENTITY column,
    // being part of the table schema, DOES stream — each planned
    // commit's partitions carry their bases as of THAT version, so a
    // streamed row's identity matches what any batch read serves
    require(!SnapshotSourceUtil.rowIdsEnabled(options),
      "graft-snapshot: rowIds is a batch read option — stream the table " +
        "plainly and join ids via a batch rowIds read, or consume the change feed")
    // a branch's staged state has no commit-offset contract — streams
    // follow MAIN; audit the branch with a batch read, then publish
    require(SnapshotSourceUtil.branchName(options).isEmpty,
      s"graft-snapshot: branch is a batch read option on $root — streams " +
        "follow published (main) versions; FAST FORWARD the branch first")
    val startingVersion = tsRaw match {
      // "latest" (Delta's keyword): only commits AFTER stream start —
      // under the exclusive-offset convention that is simply the
      // current version; "earliest" is the 0 default, accepted for
      // symmetry
      case None => Option(options.get("startingVersion")).map {
        case s if s.equalsIgnoreCase("latest") => SnapshotTable.currentVersion(root)
        case s if s.equalsIgnoreCase("earliest") => 0
        case s => s.toInt
      }.getOrElse(0)
      case Some(raw) =>
        val tsMs = SnapshotTable.parseTsLiteral(raw)
        val cur = SnapshotTable.currentVersion(root)
        (1 to cur).find(v =>
          SnapshotTable.commitTimeIfPresent(root, v).exists(_ >= tsMs)) match {
          case Some(v) =>
            require(v == 1 ||
              Files.exists(SnapshotTable.manifestPath(root, v - 1)),
              s"graft-snapshot: startingTimestamp '$raw' resolves to version $v " +
                "but earlier history was vacuumed away — commits between the " +
                "timestamp and that version may be lost; pass startingVersion " +
                "explicitly to accept the retained window")
            v - 1
          case None => cur
        }
    }
    // `maxBytesPerTrigger` (Delta's option, same name): a catch-up
    // batch is bounded by DATA SIZE, not commit count — the right cap
    // when commit sizes vary by orders of magnitude (a backfill commit
    // beside trickle appends). When ONLY the byte cap is given the
    // version cap opens up (bytes govern); the bare default stays ONE
    // commit per trigger (batch boundaries are commit boundaries).
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
    require(maxBytes.forall(_ > 0),
      s"graft-snapshot: maxBytesPerTrigger must be positive, got ${maxBytes.get}")
    val perTrigger = Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
      .getOrElse(if (maxBytes.isDefined) Int.MaxValue else 1)
    val skipChanges = "true".equalsIgnoreCase(options.get("skipChangeCommits"))
    // the combination is contradictory: the change feed EXISTS to
    // deliver change commits — refuse rather than silently ignore
    // either option (Delta refuses the same pair)
    require(!(cdfMode && skipChanges),
      "graft-snapshot: readChangeFeed and skipChangeCommits are mutually " +
        "exclusive — the change feed delivers exactly the commits " +
        "skipChangeCommits would drop")
    if (cdfMode) new SnapshotCdfMicroBatchStream(root, startingVersion, perTrigger,
      cdfFactory, maxBytes)
    else new SnapshotMicroBatchStream(root, startingVersion, perTrigger,
      if (rowIdMode) rowIdFactory else factory,
      skipChanges, attachBases = rowIdMode, maxBytesPerTrigger = maxBytes)
  }
}

/** Stream offset = committed table version. */
private[sources] case class VersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

/** `skipChangeCommits` (Delta's option, same name): a data-CHANGING
  * commit (rewrite, merge-on-read delete/update, restore) is skipped
  * WHOLE — none of its rows stream — while pure appends flow
  * normally. Without the option such a commit fails the stream
  * loudly (the append-only contract). Use the change feed when the
  * changes themselves are wanted. */
/** Trigger.AvailableNow (Spark's SupportsTriggerAvailableNow), shared
  * by the plain and CDF streams: the engine calls prepare ONCE at
  * stream start; every later admission is capped at the version
  * captured here, so the run drains exactly the backlog that existed
  * at start — still in admission-sized batches (maxVersions/maxBytes
  * both honored) — then terminates. Commits racing in after the
  * capture wait for the next checkpoint-resumed run (Delta's contract
  * too). At 100 TB this is the backfill verb: a scheduled job drains
  * a deep history in bounded batches and EXITS, instead of holding an
  * executor fleet on an idle long-lived stream. */
private[sources] trait AvailableNowCapped extends SupportsTriggerAvailableNow {
  protected def capRoot: String
  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(SnapshotTable.currentVersion(capRoot))
  /** The admission ceiling: the live latest, capped at the
    * prepare-time capture when an AvailableNow run is active. */
  protected def cappedLatest(): Int = {
    val latest0 = SnapshotTable.currentVersion(capRoot)
    availableNowCap.fold(latest0)(math.min(latest0, _))
  }
}

private[sources] class SnapshotMicroBatchStream(root: String,
    startingVersion: Int, maxVersionsPerTrigger: Int,
    factory: PartitionReaderFactory, skipChangeCommits: Boolean = false,
    attachBases: Boolean = false, maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with AvailableNowCapped {

  protected def capRoot: String = root
  override def initialOffset(): Offset = VersionOffset(startingVersion)
  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[VersionOffset].v
    // one commit per trigger by default: batch boundaries ARE commit
    // boundaries, so a downstream consumer processes atomic table
    // states, never a torn half-commit; maxBytesPerTrigger bounds a
    // catch-up window by its data size instead (manifest arithmetic)
    VersionOffset(SnapshotSourceUtil.admitUpTo(root, cur, cappedLatest(),
      maxVersionsPerTrigger, maxBytesPerTrigger, bothSides = false))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (v0, v1) = (start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)
    // commit-by-commit: the append-only judgment (and skipChangeCommits'
    // whole-commit skip) is per COMMIT, not per window. The judgment is
    // STRUCTURAL — a commit changes data iff it removes files or
    // changes any deletion vector (merge-on-read DML touches no
    // files) — never audit-tag-based: an insert-only MERGE carries a
    // `merge` audit but removes nothing and must stream like the
    // append it is. Each iteration's (entries, dv) carries into the
    // next as its `before`, so a multi-commit window reads each
    // manifest once.
    var prevEntries = if (v0 == 0) Set.empty[String]
      else SnapshotTable.manifestEntries(root, v0).map(_.rel).toSet
    var prevDv = if (v0 == 0) Map.empty[String, String]
      else SnapshotTable.dvState(root, v0)
    (v0 + 1 to v1).flatMap { v =>
      val before = prevEntries
      val after = SnapshotTable.manifestEntries(root, v).map(_.rel).toSet
      val removed = before -- after
      val dvNow = SnapshotTable.dvState(root, v)
      val changeCommit = removed.nonEmpty || dvNow != prevDv
      prevEntries = after
      prevDv = dvNow
      if (changeCommit) {
        if (skipChangeCommits) Nil
        else throw new IllegalStateException(
          s"graft-snapshot: commit $v changes existing data" +
            (if (removed.nonEmpty) s" (removes files ${removed.take(3).mkString(",")})"
             else " (deletion-vector change)") +
            " — plain streaming reads require append-only commits; stream the " +
            "changes with .option(\"readChangeFeed\", \"true\"), or skip " +
            "change commits entirely with .option(\"skipChangeCommits\", \"true\")")
      }
      else {
        // identity streaming: each appended file's base comes from ITS
        // commit's manifest — pure metadata, resolved once per batch.
        // Commits that PREDATE the tracking/identity enable carry no
        // bases yet; the file's base was minted at the enable commit
        // and never changes, so the CURRENT version's map serves as
        // the fallback (a file that was rewritten away since would be
        // part of a change commit this plain stream refuses anyway)
        val bases =
          if (!attachBases) Map.empty[String, Long]
          else {
            val atV = SnapshotTable.rowBasesOf(SnapshotTable.manifestMeta(root, v))
            val cur = SnapshotTable.currentVersion(root)
            val fallback = if (cur == v) Map.empty[String, Long]
              else SnapshotTable.rowBases(root, cur)
            fallback ++ atV
          }
        (after -- before).toSeq.sorted
          .map(rel => SnapshotFilePartition(Paths.get(root, rel).toString,
            rowBase = bases.get(rel)): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class SnapshotFilePartition(path: String,
    dvPath: Option[String] = None,
    rowBase: Option[Long] = None) extends InputPartition

/** One changed file of one commit: its rows stream as CDF rows tagged
  * (`changeType`, `commitVersion`). */
/** One changed file of one commit. Two modes: the plain mode streams
  * the file's rows (minus `dvPath`'s ordinals) under the constant
  * `changeType`; the DELTA mode (`keepDvPath` set) streams ONLY the
  * rows whose ordinal is in keepDvPath's set and NOT in dvPath's —
  * the ordinal difference of two deletion-vector states, which is how
  * a commit that changed a file's DV *without touching the file*
  * (RESTORE across a DV delete) surfaces in the feed. */
private[sources] case class SnapshotCdfPartition(path: String, changeType: String,
    commitVersion: Int, dvPath: Option[String] = None,
    keepDvPath: Option[String] = None,
    commitTsMillis: Long = 0L) extends InputPartition

/** The one-row answer of a manifest-served aggregation — COUNT(*) row
  * sums and/or MIN/MAX stats-column bounds, in projection order. */
private[sources] case class SnapshotAggPartition(values: Array[Any]) extends InputPartition

/** Streaming CHANGE DATA FEED over the snapshot table —
  * `.option("readChangeFeed", "true")` on the streaming read. Offsets
  * are table versions exactly like the append stream, but rewrite
  * commits (MERGE / UPDATE / DELETE / OPTIMIZE) no longer fail an
  * append-only guard: each version's manifest DIFF streams as row-level
  * changes — added files as `insert` rows, removed files as `delete`
  * rows — so a DML commit upstream keeps the downstream pipeline alive
  * instead of killing it.
  *
  * The feed serves TWO grains, commit by commit. A DML commit on a
  * table opted into `cdf=row` registered ROW-GRAIN change files at
  * commit time (Delta's `_change_data` design, written by
  * merge/update/delete where both images are in hand): genuinely
  * updated rows stream as `update_preimage`/`update_postimage` pairs,
  * deletes/inserts as themselves, and a rewritten file's carried rows
  * don't appear at all — a consumer keying on row identity (index
  * refresh, audit trail) can tell a carried row from an updated one.
  * Every other commit (appends, OPTIMIZE, tables not opted in) serves
  * FILE-GRAIN CDF (what Delta serves for copy-on-write commits
  * without CDC files): a rewritten file's CARRIED rows appear as a
  * delete+insert pair. Both grains agree under any signed/associative
  * delta application (sign insert/update_postimage positive,
  * delete/update_preimage negative) — the consumption pattern (x23's
  * MV maintenance, index upserts keyed by id, signed aggregates) CDC
  * feeds exist for. Either way planning stays pure manifest
  * arithmetic: nothing ever diffs row CONTENT at plan time, which is
  * what keeps a 100 TB feed's planning cost proportional to the
  * commit, not the table. Consumers needing minimal deltas on a
  * file-grain table run `SnapshotTable.changesBetween` (batch), which
  * cancels carried rows with a distributed multiset difference.
  *
  * A metadata-only commit (ALTER, RESTORE to an identical file set)
  * diffs to zero files and streams an empty batch. Columns added by a
  * mid-stream ALTER surface only after a stream restart (the scan's
  * schema is resolved once at start — Delta's contract too). */
private[sources] class SnapshotCdfMicroBatchStream(root: String,
    startingVersion: Int, maxVersionsPerTrigger: Int,
    factory: SnapshotCdfReaderFactory, maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with AvailableNowCapped {

  protected def capRoot: String = root
  override def initialOffset(): Offset = VersionOffset(startingVersion)
  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[VersionOffset].v
    // the feed reads REMOVED files too (their rows emit as deletes),
    // so the byte budget counts both sides of each commit's diff
    VersionOffset(SnapshotSourceUtil.admitUpTo(root, cur,
      cappedLatest(), maxVersionsPerTrigger,
      maxBytesPerTrigger, bothSides = true))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    SnapshotCdf.partitions(root,
      start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object SnapshotCdf {
  /** The change partitions of the version window (v0, v1] — one per
    * changed file per commit. Per-version diffs, not one end-to-end
    * diff: each row must carry the version that produced it, and a
    * file added in v0+1 then removed in v1 must emit BOTH events (the
    * end-to-end diff would cancel them and lose the intermediate state
    * transitions). A commit whose predecessor manifest was vacuumed is
    * not diffable — loud error, never a silently truncated feed. */
  def partitions(root: String, v0: Int, v1: Int): Array[InputPartition] =
    (v0 + 1 to v1).flatMap { v =>
      def rels(at: Int): Set[String] =
        try SnapshotTable.manifestEntries(root, at).map(_.rel).toSet
        catch {
          case e: java.nio.file.NoSuchFileException => throw new IllegalStateException(
            s"graft-snapshot CDF: version $at of $root was vacuumed away — " +
              s"the change feed cannot diff commit $v; start from a retained version", e)
        }
      // a DML commit on a `cdf=row` table registered its ROW-GRAIN
      // change files (`cdc` meta: `type=rel[,rel];...`) — plan those
      // instead of the manifest diff: genuinely updated rows surface as
      // update_preimage/update_postimage pairs and a rewritten file's
      // carried rows don't appear at all. Each CDC file is one
      // constant-changeType partition, same reader as the diff path.
      // Commits without the meta (appends, OPTIMIZE, tables not opted
      // in) keep the file-grain contract.
      val cdc = try SnapshotTable.manifestMeta(root, v).get("cdc")
        catch { case _: java.nio.file.NoSuchFileException => None }
      val parts: Seq[SnapshotCdfPartition] = cdc match {
        case Some(spec) => spec.split(';').toSeq.flatMap { grp =>
          val Array(ty, tyRels) = grp.split("=", 2)
          tyRels.split(',').toSeq.sorted.map { rel =>
            // a vacuum under the `cdcretain` window reclaims CDC files
            // while their manifest (and time travel) survives — the
            // feed must refuse a reclaimed window LOUDLY at planning,
            // never crash a task or silently truncate
            if (!java.nio.file.Files.exists(Paths.get(root, rel)))
              throw new IllegalStateException(
                s"graft-snapshot CDF: the row-grain change files of version $v " +
                  s"of $root were reclaimed (cdcRetention window / vacuum) — " +
                  "start the feed from a retained version, or widen the " +
                  "'cdcretain' table property before the next vacuum")
            SnapshotCdfPartition(Paths.get(root, rel).toString, ty, v)
          }
        }
        case None =>
          val before = if (v == 1) Set.empty[String] else rels(v - 1)
          val after = rels(v)
          // deletion vectors apply AS OF each side's version: a removed
          // file streams its then-live rows (its pre-removal DV), an
          // added file its post-commit DV (normally none)
          val dvBefore = if (v == 1) Map.empty[String, String]
            else SnapshotTable.dvState(root, v - 1)
          val dvAfter = SnapshotTable.dvState(root, v)
          val deletes = (before -- after).toSeq.sorted
            .map(rel => SnapshotCdfPartition(Paths.get(root, rel).toString, "delete", v,
              dvBefore.get(rel).map(d => Paths.get(root, d).toString)))
          val inserts = (after -- before).toSeq.sorted
            .map(rel => SnapshotCdfPartition(Paths.get(root, rel).toString, "insert", v,
              dvAfter.get(rel).map(d => Paths.get(root, d).toString)))
          // a commit can change a file's DELETION VECTOR without
          // touching the file (RESTORE across a DV delete; DV deletes
          // themselves register `cdc` meta and never reach this
          // branch): newly-deleted ordinals stream as deletes,
          // resurrected ordinals as inserts — otherwise the feed is
          // blind to the commit and every consumer diverges
          val dvDelta = (before intersect after).toSeq.sorted.flatMap { rel =>
            val b = dvBefore.get(rel)
            val a = dvAfter.get(rel)
            if (b == a) Nil
            else {
              val path = Paths.get(root, rel).toString
              def abs(o: Option[String]) = o.map(d => Paths.get(root, d).toString)
              // deleted at v: ordinals in after ∖ before
              val del = a.toSeq.map(_ => SnapshotCdfPartition(path, "delete", v,
                abs(b), keepDvPath = abs(a)))
              // resurrected at v: ordinals in before ∖ after
              val res = b.toSeq.map(_ => SnapshotCdfPartition(path, "insert", v,
                abs(a), keepDvPath = abs(b)))
              del ++ res
            }
          }
          deletes ++ inserts ++ dvDelta
      }
      // every row of commit v carries the commit's wall-clock
      // (Delta's _commit_timestamp): the in-commit stamp when the
      // manifest has one, mtime for pre-ICT commits — resolved ONCE
      // per version here, never per row or per partition
      val cts = SnapshotTable.commitTimeMillis(root, v)
      parts.map(_.copy(commitTsMillis = cts))
    }.toArray
}

/** Wraps the plain file reader, appending the per-partition change
  * metadata columns. `base` is the projection's TABLE columns (the
  * parquet request); `out` is the full output row layout, which may
  * interleave the metadata columns anywhere the projection put them. */
private[sources] case class SnapshotCdfReaderFactory(projectedMessage: String,
    base: StructType, out: StructType,
    nestedMap: Map[String, SnapshotTable.ColNode] = Map.empty)
    extends PartitionReaderFactory {

  // per-file width intersection unconditionally: delete partitions read
  // files committed under older (narrower) widths than the scan schema
  private val inner = SnapshotReaderFactory(projectedMessage, base,
    evolved = true, nestedMap)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[SnapshotCdfPartition]
    // DELTA mode (see SnapshotCdfPartition): plain inner read, keep
    // only ordinals in keepDvPath ∖ dvPath — implemented as a skip-all
    // -but-the-difference wrapper below
    val delta = cp.keepDvPath.map { k =>
      val keep = SnapshotSourceUtil.loadDvSet(k)
      cp.dvPath.foreach(d => keep.removeAll(SnapshotSourceUtil.loadDvSet(d)))
      keep
    }
    val innerReader0 = inner.createReader(SnapshotFilePartition(cp.path,
      if (delta.isDefined) None else cp.dvPath))
    val innerReader = delta match {
      case None => innerReader0
      case Some(keep) => new PartitionReader[InternalRow] {
        private var ord = -1L
        override def next(): Boolean = {
          var has = innerReader0.next(); ord += 1
          while (has && !keep.contains(ord)) { has = innerReader0.next(); ord += 1 }
          has
        }
        override def get(): InternalRow = innerReader0.get()
        override def close(): Unit = innerReader0.close()
      }
    }
    val changeType = UTF8String.fromString(cp.changeType)
    val version = cp.commitVersion.toLong
    // TimestampType's internal representation is MICROS since epoch
    val tsMicros = cp.commitTsMillis * 1000L
    // out slot i ← base slot (>=0), change type (-1), version (-2),
    // or commit timestamp (-3)
    val slot: Array[Int] = out.fields.map { f =>
      if (f.name == SnapshotSourceUtil.CdfTypeCol) -1
      else if (f.name == SnapshotSourceUtil.CdfVersionCol) -2
      else if (f.name == SnapshotSourceUtil.CdfTimestampCol) -3
      else base.fieldIndex(f.name)
    }
    new PartitionReader[InternalRow] {
      override def next(): Boolean = innerReader.next()
      override def get(): InternalRow = {
        val in = innerReader.get()
        val vals = new Array[Any](slot.length)
        var i = 0
        while (i < slot.length) {
          vals(i) = slot(i) match {
            case -1 => changeType
            case -2 => version
            case -3 => tsMicros
            case j => in.get(j, base.fields(j).dataType)
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = innerReader.close()
    }
  }
}

/** The write side of the connector: `df.write.format("graft-snapshot")
  * .mode("append")` commits a batch append; `df.writeStream.format(
  * "graft-snapshot")` is an EXACTLY-ONCE streaming sink — each task
  * writes an immutable uniquely-named data file straight into the table
  * root (unreferenced until commit, so a failed write leaves garbage
  * for vacuum, never a torn table), and the driver-side commit appends
  * all task files as ONE manifest version through the CAS retry loop.
  * Streaming commits store `epoch:<queryId>` in the manifest metadata
  * atomically with the file list, so a replayed epoch (restart after a
  * commit-then-crash) is detected and becomes a no-op — st8's sink
  * semantics through the STANDARD API. */
private[sources] class SnapshotWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite {
  /** The table's CHECK constraints compiled to BOUND catalyst
    * predicates over the incoming (logical) schema — evaluated
    * per-row INSIDE each task's writer (Delta's invariant-checker
    * shape: enforcement rides the write, no second pass, no driver
    * round-trip). Compiled once at plan time; a violating row fails
    * its task loudly and the commit never lands. */
  /** GENERATED columns the incoming frame OMITS, derived in each
    * task's writer exactly as the sink's withGeneratedColumns does
    * (Delta computes omitted gen columns on EVERY write route — the
    * batch INSERT path must not diverge from the sink, r15 verdict):
    * each fill expression is analyzed against the incoming schema and
    * bound ONCE at plan time; the writer appends the computed values
    * and the widened row — conformed to the table's declared column
    * order so the file sits uniformly beside residents — is what the
    * checks see and the file carries. (outSchema, per-slot source
    * index: >=0 copies input slot i, -k-1 evaluates fill k, fills). */
  private lazy val genPlan: (StructType, Array[Int],
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    val v = SnapshotTable.currentVersion(root)
    val gens = if (v == 0) Map.empty[String, String]
      else SnapshotTable.genExprs(root, v)
    val missing = gens.toSeq.filterNot { case (c, _) =>
      info.schema().fieldNames.exists(_.equalsIgnoreCase(c)) }.sortBy(_._1)
    if (missing.isEmpty)
      (info.schema(), Array.tabulate(info.schema().length)(identity), Nil)
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      val declared = SnapshotTable.readAt(spark, root, v).schema
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), info.schema())
      val bound = missing.map { case (c, e) =>
        // a frame omitting a generation INPUT as well fails analysis
        // here, loudly naming the unresolvable column — nothing to
        // derive from, same refusal the sink's helper hits
        val analyzed = empty.select(org.apache.spark.sql.functions.expr(e)
          .cast(declared(c).dataType).as("__gen")).queryExecution.analyzed
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        val resolved = analyzed.projectList.head
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
        (c, declared(c).dataType,
          org.apache.spark.sql.catalyst.expressions.BindReferences
            .bindReference(resolved, analyzed.child.output))
      }
      // the fill column's parquet repetition must CONFORM to what the
      // resident files declare (a REQUIRED column written OPTIONAL
      // would make the uniform-table read request refuse the mix —
      // the same rule conformNullability enforces on MoR postimages)
      val cmap = SnapshotTable.colMap(root, v)
      val physMsg = scala.util.Try(SnapshotSourceUtil.tableMessageType(root, v)).toOption
      val widened = info.schema().fields.toSeq ++ bound.map { case (c, dt, _) =>
        val pn = SnapshotTable.physicalName(cmap, c)
        val nullable = !physMsg.exists(m => m.containsField(pn) &&
          m.getType(m.getFieldIndex(pn)).isRepetition(
            org.apache.parquet.schema.Type.Repetition.REQUIRED))
        StructField(c, dt, nullable)
      }
      val order = declared.fieldNames.filter(c =>
          widened.exists(_.name.equalsIgnoreCase(c))) ++
        widened.map(_.name).filterNot(c =>
          declared.fieldNames.exists(_.equalsIgnoreCase(c)))
      val fields = order.map(c => widened.find(_.name.equalsIgnoreCase(c)).get)
      val srcIdx = fields.map { f =>
        val i = info.schema().fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
        if (i >= 0) i else -(bound.indexWhere(_._1.equalsIgnoreCase(f.name)) + 1)
      }.toArray
      (StructType(fields), srcIdx, bound.map(_._3))
    }
  }

  private lazy val boundChecks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = {
    val v = SnapshotTable.currentVersion(root)
    val checks = SnapshotTable.checkConstraints(root, v)
    if (checks.isEmpty) Nil
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      // bound against the WIDENED schema (input + derived gen columns):
      // the gen:<col> invariants reference the derived column, which
      // the writer materializes before evaluating the checks
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), genPlan._1)
      checks.toSeq.sortBy(_._1).map { case (n, e) =>
        val analyzed = empty.select(
          org.apache.spark.sql.functions.expr(e).cast("boolean").as("__chk"))
          .queryExecution.analyzed
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        val resolved = analyzed.projectList.head
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
        (n, e, org.apache.spark.sql.catalyst.expressions.BindReferences
          .bindReference(resolved, analyzed.child.output))
      }
    }
  }

  private def factory = {
    // an IDENTITY column is engine-assigned: a write supplying it
    // would collide with the commit-time allocator (and Spark's
    // catalog INSERT INTO forces every schema column, so the honest
    // answer for identity tables is the path-route append / sink,
    // which omit it — the GENERATED ALWAYS contract)
    val cur = SnapshotTable.currentVersion(root)
    SnapshotTable.identityCol(root, cur)
      .orElse(SnapshotTable.pendingIdentity(root)).foreach(ic =>
      require(!info.schema().fieldNames.exists(_.equalsIgnoreCase(ic)),
        s"graft-snapshot write to $root: column $ic is GENERATED ALWAYS AS " +
          "IDENTITY — omit it (path-route append or the streaming sink); " +
          "the engine assigns dense ids at commit"))
    // NESTED-mapped tables (r17): incoming struct FIELD names are
    // LOGICAL; the task writer translates them to physical through the
    // same nestedFieldMaps decode point the reader uses, so the
    // written file carries physical names beside residents. Dropped
    // OPTIONAL fields simply stay unset (new rows have no values for
    // dropped columns); a dropped REQUIRED field has no value to
    // write and refuses at plan time (checkNestedCompat).
    val nestedWriteMap: Map[String, SnapshotTable.ColNode] =
      if (cur == 0) Map.empty
      else SnapshotSourceUtil.nestedFieldMaps(SnapshotTable.colMap(root, cur))
    // `_row_id`/`__row_id` are reserved spellings (the row-id read keys
    // on the OUTPUT name — a committed data column would shadow engine
    // ids on tracked tables and brick plain DSv2 reads on untracked
    // ones); refuse them at the write seam, same rule as validateIdent
    info.schema().fieldNames.find(n =>
        n.equalsIgnoreCase(SnapshotSourceUtil.RowIdField) ||
        n.equalsIgnoreCase(SnapshotTable.RowIdCol)).foreach(n =>
      throw new IllegalArgumentException(
        s"graft-snapshot write to $root: $n is a reserved name (the row-id " +
          "read serves engine ids under it) — rename the column"))
    // __bytes is the manifest's file-size extra (r19): a data column
    // of that name could be named as a stats column and alias into
    // size-based planning — refuse at the write seam like the row-id
    // spellings (validateIdent guards the ALTER surface the same way)
    info.schema().fieldNames.find(_.equalsIgnoreCase(SnapshotTable.BytesCol))
      .foreach(n => throw new IllegalArgumentException(
        s"graft-snapshot write to $root: $n is a reserved name (manifest " +
          "entries carry file sizes under it) — rename the column"))
    // the incoming query's schema is LOGICAL (the table exposes the
    // mapping); data files always carry PHYSICAL names — translate.
    // Row decode is positional, so renaming fields is free. The write
    // schema is the gen-widened one (omitted generated columns derive
    // in-task — see genPlan).
    val phys0 = SnapshotSourceUtil.physStruct(genPlan._1,
      SnapshotTable.colMap(root, cur))
    // CONFORM each column's parquet repetition to what the resident
    // files declare (the conformNullability rule, applied to the
    // append route): two INSERTs whose analyzer-derived nullability
    // differs (a column-list insert filling non-null DEFAULTs beside
    // a positional one, say) would otherwise write REQUIRED beside
    // OPTIONAL and the uniform-table read's shared request refuses
    // the mix. REQUIRED slots get a loud per-row null guard in the
    // writer — parquet REQUIRED is the table's NOT NULL constraint.
    val physMsg = if (cur == 0) None
      else scala.util.Try(SnapshotSourceUtil.tableMessageType(root, cur)).toOption
    val phys = physMsg.fold(phys0)(m => StructType(phys0.fields.map { f =>
      if (m.containsField(f.name))
        f.copy(nullable = !m.getType(m.getFieldIndex(f.name)).isRepetition(
          org.apache.parquet.schema.Type.Repetition.REQUIRED))
      else f
    }))
    // NESTED columns (structs r16, lists/maps r17) write under the
    // RESIDENT footer's group type verbatim (inner field order AND
    // repetition must match the files this one sits beside — the
    // uniform read's shared request refuses a mix); compatibility is
    // checked here at plan time: an incoming field the resident group
    // lacks is struct-field evolution (needs a rewrite), an omitted
    // REQUIRED field has no value to write. RECURSIVE compatibility:
    // names, REQUIRED presence, group SHAPE (list/map/struct) AND
    // primitive kinds must match the resident declaration at every
    // depth — a mismatch refuses at planning with the field's path,
    // never a per-row parquet error mid-task (r16 review)
    def checkNestedCompat(path: String, dt0: DataType,
        ft0: org.apache.parquet.schema.Type,
        node: Option[SnapshotTable.ColNode] = None): Unit = dt0 match {
      case st: StructType =>
        require(!ft0.isPrimitive &&
            ft0.asGroupType().getLogicalTypeAnnotation == null,
          s"graft-snapshot write to $root: $path is a struct but the " +
            s"resident files declare $ft0 — needs a rewrite")
        val gt = ft0.asGroupType()
        import scala.jdk.CollectionConverters._
        // a nested column mapping translates incoming LOGICAL field
        // names to the residents' physical ones (at any depth — the
        // mapping tree descends with the recursion) — dropped OPTIONAL
        // physical fields are simply not named by any incoming field
        // and stay unset
        def pn(f: String): String = node.fold(f)(_.physicalOf(f))
        val extra = st.fieldNames.filterNot(f => gt.containsField(pn(f)))
        require(extra.isEmpty,
          s"graft-snapshot write to $root: struct $path carries " +
            s"field(s) ${extra.mkString(",")} the resident files lack — " +
            "struct-field evolution needs a rewrite (Scala route)")
        val covered = st.fieldNames.map(pn).toSet
        val missingReq = gt.getFields.asScala.filter(x =>
          x.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED) &&
            !covered.contains(x.getName))
        require(missingReq.isEmpty,
          s"graft-snapshot write to $root: struct $path omits " +
            s"REQUIRED field(s) ${missingReq.map(_.getName).mkString(",")}" +
            (if (node.nonEmpty) " (a DROPPED field the residents declare " +
              "NOT NULL has no value to write — OPTIMIZE to materialize " +
              "the mapping first)" else ""))
        st.fields.foreach { f =>
          checkNestedCompat(s"$path.${f.name}", f.dataType,
            gt.getType(gt.getFieldIndex(pn(f.name))),
            node.flatMap(_.children.get(f.name)))
        }
      case ArrayType(et, _) =>
        require(!ft0.isPrimitive && ft0.asGroupType().getLogicalTypeAnnotation
            .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation
              .ListLogicalTypeAnnotation],
          s"graft-snapshot write to $root: $path is an array but the " +
            s"resident files declare $ft0 — needs a rewrite")
        checkNestedCompat(s"$path.element", et,
          ft0.asGroupType().getType(0).asGroupType().getType(0))
      case MapType(kt, vt, _) =>
        require(!ft0.isPrimitive && ft0.asGroupType().getLogicalTypeAnnotation
            .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation
              .MapLogicalTypeAnnotation],
          s"graft-snapshot write to $root: $path is a map but the " +
            s"resident files declare $ft0 — needs a rewrite")
        val kv = ft0.asGroupType().getType(0).asGroupType()
        checkNestedCompat(s"$path.key", kt, kv.getType(0))
        checkNestedCompat(s"$path.value", vt, kv.getType(1))
      case dt =>
        val expected = dt match {
          case LongType => PrimitiveTypeName.INT64
          case IntegerType => PrimitiveTypeName.INT32
          case DoubleType => PrimitiveTypeName.DOUBLE
          case FloatType => PrimitiveTypeName.FLOAT
          case BooleanType => PrimitiveTypeName.BOOLEAN
          case StringType => PrimitiveTypeName.BINARY
          case other => sys.error(
            s"graft-snapshot write: unsupported nested type $other")
        }
        require(ft0.isPrimitive &&
            ft0.asPrimitiveType().getPrimitiveTypeName == expected,
          s"graft-snapshot write to $root: $path is " +
            s"${dt.simpleString} but the resident files declare $ft0 — " +
            "type changes inside a nested column need a rewrite")
    }
    val msg = physMsg match {
      case None => SnapshotSourceUtil.messageType(phys)
      case Some(m) =>
        import scala.jdk.CollectionConverters._
        val fields: Seq[org.apache.parquet.schema.Type] = phys.fields.toSeq.map { f =>
          if (!m.containsField(f.name))
            SnapshotSourceUtil.messageType(StructType(Seq(f))).getType(0)
          else {
            val ft = m.getType(m.getFieldIndex(f.name))
            f.dataType match {
              case _: StructType | _: ArrayType | _: MapType =>
                checkNestedCompat(f.name, f.dataType, ft,
                  nestedWriteMap.get(f.name))
                ft
              case _ => ft
            }
          }
        }
        new MessageType("spark_schema",
          fields.asJava: java.util.List[org.apache.parquet.schema.Type])
    }
    SnapshotWriterFactory(root, msg.toString, phys, boundChecks,
      genPlan._2, genPlan._3, nestedWriteMap)
  }
  // `.option("statsCol", c)` on the writer declares the pruning column
  // for a table this write CREATES (an existing table's statsCol is
  // carried forward by the commit; the option must agree with it)
  private val statsColOpt = Option(info.options().get("statsCol"))

  /** CLUSTERED WRITES (r19, opt-in via `optimizewrite=on` — Delta's
    * optimized-write shape, driven through Spark's OWN channel): the
    * Write declares an ORDERED distribution + ordering on the stats
    * column, so Spark range-shuffles and sorts the incoming frame
    * before the tasks write — landed files carry DISJOINT key ranges
    * and stats/point-lookup pruning works from the FIRST commit, no
    * nightly OPTIMIZE catch-up rewrite needed. Off by default: a
    * trickle append must not pay a shuffle; and skipped when the
    * incoming frame omits the cluster column (a generated column the
    * writer computes in-task — there is nothing to shuffle on yet).
    * At 100 TB this moves the clustering cost from a second
    * read-rewrite pass (2× the bytes) into the ingest shuffle the
    * write was already distributing. */
  override def build(): Write = {
    val clusterOn: Option[String] = {
      val v = SnapshotTable.currentVersion(root)
      if (v == 0) None
      else {
        val meta = SnapshotTable.carriedMeta(root, v)
        if (!meta.get("optimizewrite").contains("on")) None
        else meta.get("statsCol")
          .map(c => SnapshotTable.logicalName(SnapshotTable.colMap(root, v), c))
          .filter(c => info.schema().fieldNames.exists(_.equalsIgnoreCase(c)))
      }
    }
    clusterOn match {
      case None => new Write {
        override def toBatch: BatchWrite = buildForBatch()
        override def toStreaming: StreamingWrite = buildForStreaming()
      }
      case Some(c) => new Write with RequiresDistributionAndOrdering {
        private val order =
          Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)
        override def toBatch: BatchWrite = buildForBatch()
        override def toStreaming: StreamingWrite = buildForStreaming()
        override def requiredDistribution(): Distribution =
          Distributions.ordered(Array(order))
        // 0 = Spark (and AQE) size the shuffle; pinning a count here
        // would fight the advisory-partition machinery
        override def requiredNumPartitions(): Int = 0
        override def requiredOrdering(): Array[SortOrder] = Array(order)
      }
    }
  }

  /** INSERT OVERWRITE / df.writeTo(...).replace(): the commit's file
    * list is JUST this write's files — the superseded version stays
    * readable via time travel until vacuumed, the same transition an
    * OPTIMIZE commit makes. Only full-table overwrite is supported
    * (Spark sends AlwaysTrue for unpartitioned INSERT OVERWRITE);
    * filter-scoped overwrite would need partition semantics the
    * snapshot table intentionally replaces with clustering. */
  private var replaceAll = false
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      s"graft-snapshot: only full-table INSERT OVERWRITE is supported, got ${filters.mkString(",")}")
    replaceAll = true
    this
  }

  override def buildForBatch(): BatchWrite = new BatchWrite {
    private val planned = boundChecks.map { case (n, e, _) => (n, e) }.toMap
    override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory = factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      SnapshotCommit.append(root, messages,
        statsColOpt.map("statsCol" -> _).toMap, replace = replaceAll,
        plannedChecks = planned)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      SnapshotCommit.discard(root, messages)
  }

  override def buildForStreaming(): StreamingWrite = new StreamingWrite {
    private val qid = info.queryId()
    override def createStreamingWriterFactory(i: PhysicalWriteInfo): StreamingDataWriterFactory = factory
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val v = SnapshotTable.currentVersion(root)
      val last = if (v == 0) -1L
        else SnapshotTable.manifestMeta(root, v).get(s"epoch:$qid").map(_.toLong).getOrElse(-1L)
      if (epochId <= last) SnapshotCommit.discard(root, messages) // replay: no-op
      // complete-mode streams (Spark calls overwrite() on the builder
      // because the table declares TRUNCATE) REPLACE the table each
      // epoch; append-mode epochs accumulate. Ignoring replaceAll here
      // would silently duplicate every complete-mode batch.
      else SnapshotCommit.append(root, messages,
        statsColOpt.map("statsCol" -> _).toMap + (s"epoch:$qid" -> epochId.toString),
        replace = replaceAll,
        plannedChecks = boundChecks.map { case (n, e, _) => (n, e) }.toMap)
    }
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      SnapshotCommit.discard(root, messages)
  }
}

private[graft] case class SnapshotFileCommit(rel: String) extends WriterCommitMessage

private[graft] object SnapshotCommit {
  /** Append the task files as the next version (CAS retry loop —
    * optimistic concurrency against any other committer). Per-file
    * stats are footer-harvested for the table's `#statsCol` (carried
    * forward in metadata) so appended files keep pruning. */
  def append(root: String, messages: Array[WriterCommitMessage],
      extraMeta: Map[String, String], replace: Boolean = false,
      plannedChecks: Map[String, String] = Map.empty): Unit = {
    val rels = messages.collect { case SnapshotFileCommit(rel) if rel.nonEmpty => rel }
      .toSeq.sorted
    if (rels.isEmpty && extraMeta.isEmpty && !replace) return
    var done = false
    val harvested = scala.collection.mutable.Map.empty[String,
      Seq[SnapshotTable.FileEntry]]
    val retry = new SnapshotTable.CommitRetry(root)
    while (!done) {
      val v = SnapshotTable.currentVersion(root)
      retry.observed(v)
      // a CAS retry may land on a base whose CHECK constraints CHANGED
      // since the rows were written and per-row-checked (a racing ADD
      // CONSTRAINT validated only ITS base's resident data): the rows
      // are already on disk, so re-checking is impossible here — abort
      // loudly instead of committing unvalidated rows under the new
      // invariant (Delta's metadata-conflict abort)
      val checksNow = if (v == 0) Map.empty[String, String]
        else SnapshotTable.checkConstraints(root, v)
      if (checksNow != plannedChecks) throw new IllegalStateException(
        s"graft-snapshot: CHECK constraints of $root changed while this write " +
          s"was in flight (planned ${plannedChecks.keys.toSeq.sorted.mkString(",")}, " +
          s"now ${checksNow.keys.toSeq.sorted.mkString(",")}) — the written rows " +
          "were not validated against the new set; retry the statement")
      // carriedMeta, NOT raw manifestMeta: the base's per-commit audit
      // tags — above all `cdc`, which names ONE commit's change files —
      // must not ride into this append's version, or the CDF planner
      // would re-emit the previous DML's rows as this version's changes
      // and never surface the appended file (r14 review)
      val meta0 = if (v == 0) Map.empty[String, String] else SnapshotTable.carriedMeta(root, v)
      // overwrite: every surviving file is this write's, so the
      // mixed-width evolution marker and maintenance tags no longer
      // describe the version; watermarks and statsCol still carry
      val meta = if (replace) meta0 -- Seq("schema", "schemaJson", "widen", "optimize", "merge", "delete") else meta0
      val statsCol = extraMeta.get("statsCol").orElse(meta.get("statsCol"))
      val existing =
        if (v == 0 || replace) Nil else SnapshotTable.manifestEntries(root, v)
      // harvest ONCE per distinct statsCol (a CAS retry must not
      // re-read every footer — statsCol only changes between retries
      // if a racing OPTIMIZE CLUSTER BY re-keyed the table), and
      // distributed above the small-batch threshold: a wide INSERT's
      // file count scales with data, and the serial driver sweep at
      // object-store footer latency is the class of cost the
      // distributed convert harvest already eliminated
      val fresh = harvested.getOrElseUpdate(statsCol.getOrElse(""),
        SnapshotTable.harvestEntries(
          org.apache.spark.sql.SparkSession.active, root, rels,
          statsCol.getOrElse(""))) // no stats column: rows-only sentinel lo/hi
      try {
        // carry EVERY query's epoch watermark forward (a commit that
        // dropped another streaming writer's `epoch:` key would erase
        // that query's replay protection — the Delta txn map keeps one
        // version per appId for exactly this reason); our own key is
        // overwritten by extraMeta
        SnapshotTable.commitEntries(root, v, existing ++ fresh, shardSize = 16,
          meta ++ extraMeta)
        done = true
      } catch {
        case e: java.nio.file.FileAlreadyExistsException => retry.lost(e) // lost CAS: re-read, retry
      }
    }
    // a CREATE-time identity declaration (pending marker) applies on
    // the table's first commit — one metadata-only follow-up, the same
    // declare-after-seed flow the Scala API runs manually
    SnapshotTable.applyPendingIdentity(
      org.apache.spark.sql.SparkSession.active, root)
  }

  /** Drop staged task files that will never be referenced. Empty-task
    * markers (rel == "", from [[PartitionFileWriter.commit]] on a
    * zero-row partition) are skipped exactly as [[append]] skips them —
    * `Paths.get(root, "")` IS the table root, and deleting it would
    * crash the replay-no-op and abort paths whenever any task partition
    * was empty. */
  def discard(root: String, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case SnapshotFileCommit(rel) if rel.nonEmpty =>
      java.nio.file.Files.deleteIfExists(Paths.get(root, rel)) }
}

/** Executor-side writer: each task streams its rows into one immutable
  * uniquely-named parquet file under the table root via the example
  * Group API (the write twin of the read path). */
private[sources] case class SnapshotWriterFactory(root: String,
    parquetSchema: String, schema: StructType,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    srcIdx: Array[Int] = Array.empty,
    fills: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil,
    nestedMap: Map[String, SnapshotTable.ColNode] = Map.empty)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, -1L)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = writer(partitionId, epochId)

  private def writer(partitionId: Int, epochId: Long): DataWriter[InternalRow] = {
    val rel = s"data_w_e${epochId}_p${partitionId}_" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    new PartitionFileWriter(root, rel, parquetSchema, schema, checks,
      srcIdx, fills, nestedMap)
  }
}

private[sources] class PartitionFileWriter(root: String, rel: String,
    parquetSchema: String, schema: StructType,
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    srcIdx: Array[Int] = Array.empty,
    fills: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil,
    nestedMap: Map[String, SnapshotTable.ColNode] = Map.empty)
    extends DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter

  private val msg = MessageTypeParser.parseMessageType(parquetSchema)
  private val groups = new SimpleGroupFactory(msg)
  private var rows = 0L
  // NESTED write plans (r16 structs, r17 lists/maps): per incoming
  // struct field, the message group's field index (matched by NAME
  // once here), its REQUIRED flag, type, and sub-plan — the per-row
  // loop stays lookup-free
  private def writePlan(st: StructType,
      gt: org.apache.parquet.schema.GroupType,
      node: Option[SnapshotTable.ColNode] = None): Array[(Int, Boolean, DataType, AnyRef)] =
    st.fields.map { f =>
      // a NESTED column mapping (any depth — the tree descends with
      // the plan) translates the incoming LOGICAL field name to the
      // residents' physical one
      val pn = node.fold(f.name)(_.physicalOf(f.name))
      val j = gt.getFieldIndex(pn)
      val req = gt.getType(j).isRepetition(
        org.apache.parquet.schema.Type.Repetition.REQUIRED)
      val sub: AnyRef = f.dataType match {
        case s: StructType =>
          writePlan(s, gt.getType(j).asGroupType(), node.flatMap(_.children.get(f.name)))
        case dt => writeSub(dt, gt.getType(j))
      }
      (j, req, f.dataType, sub)
    }
  // sub-plan per DataType: struct → field plan; array → (element
  // REQUIRED flag, element sub-plan); map → [key sub-plan, value
  // REQUIRED flag, value sub-plan]; primitive → null
  private def writeSub(dt: DataType,
      pt: org.apache.parquet.schema.Type): AnyRef = dt match {
    case s: StructType => writePlan(s, pt.asGroupType())
    case ArrayType(et, _) =>
      val el = pt.asGroupType().getType(0).asGroupType().getType(0)
      (el.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED),
        writeSub(et, el))
    case MapType(kt, vt, _) =>
      val kv = pt.asGroupType().getType(0).asGroupType()
      Array[AnyRef](writeSub(kt, kv.getType(0)),
        java.lang.Boolean.valueOf(kv.getType(1).isRepetition(
          org.apache.parquet.schema.Type.Repetition.REQUIRED)),
        writeSub(vt, kv.getType(1)))
    case _ => null
  }
  private val nestedWritePlans: Array[AnyRef] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case s: StructType if nestedMap.contains(f.name) =>
          writePlan(s, msg.getType(i).asGroupType(), nestedMap.get(f.name))
        case _: StructType | _: ArrayType | _: MapType =>
          writeSub(f.dataType, msg.getType(i))
        case _ => null
      }
    }
  private def writeStruct(g: org.apache.parquet.example.data.Group,
      row: InternalRow, plan: Array[(Int, Boolean, DataType, AnyRef)]): Unit = {
    var i = 0
    while (i < plan.length) {
      val (j, req, dt, sub) = plan(i)
      if (row.isNullAt(i)) {
        if (req) throw new IllegalArgumentException(
          s"graft-snapshot write to $root: NULL into a struct field the " +
            "resident files declare REQUIRED (NOT NULL)")
      } else writeValue(g, j, dt, row, i, sub)
      i += 1
    }
  }
  /** One non-null value from `src` at ordinal `ord` into field `j` of
    * `g` — the shared kernel for top-level slots, struct fields, list
    * elements and map entries (InternalRow and ArrayData both read
    * through SpecializedGetters). */
  private def writeValue(g: org.apache.parquet.example.data.Group, j: Int,
      dt: DataType,
      src: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ord: Int, sub: AnyRef): Unit = dt match {
    case LongType => g.add(j, src.getLong(ord))
    case IntegerType => g.add(j, src.getInt(ord))
    case DoubleType => g.add(j, src.getDouble(ord))
    case FloatType => g.add(j, src.getFloat(ord))
    case BooleanType => g.add(j, src.getBoolean(ord))
    case StringType => g.add(j, src.getUTF8String(ord).toString)
    case s: StructType => writeStruct(g.addGroup(j),
      src.getStruct(ord, s.length),
      sub.asInstanceOf[Array[(Int, Boolean, DataType, AnyRef)]])
    case ArrayType(et, _) =>
      // 3-level LIST: one inner repeated group per element; a NULL
      // element is an inner group with the slot unset, an empty array
      // is the outer group with zero inner groups
      val (elReq, elSub) = sub.asInstanceOf[(Boolean, AnyRef)]
      val lg = g.addGroup(j)
      val arr = src.getArray(ord)
      var k = 0
      while (k < arr.numElements()) {
        val eg = lg.addGroup(0)
        if (arr.isNullAt(k)) {
          if (elReq) throw new IllegalArgumentException(
            s"graft-snapshot write to $root: NULL array element into a " +
              "list whose resident files declare REQUIRED elements")
        } else writeValue(eg, 0, et, arr, k, elSub)
        k += 1
      }
    case MapType(kt, vt, _) =>
      val subs = sub.asInstanceOf[Array[AnyRef]]
      val vReq = subs(1).asInstanceOf[java.lang.Boolean].booleanValue()
      val mg = g.addGroup(j)
      val m = src.getMap(ord)
      val keys = m.keyArray()
      val mvals = m.valueArray()
      var k = 0
      while (k < m.numElements()) {
        val kvg = mg.addGroup(0)
        writeValue(kvg, 0, kt, keys, k, subs(0)) // map keys are never null
        if (mvals.isNullAt(k)) {
          if (vReq) throw new IllegalArgumentException(
            s"graft-snapshot write to $root: NULL map value into a map " +
              "whose resident files declare REQUIRED values")
        } else writeValue(kvg, 1, vt, mvals, k, subs(2))
        k += 1
      }
    case other => sys.error(s"graft-snapshot write: unsupported nested type $other")
  }
  private val writer = {
    val conf = new Configuration()
    ExampleParquetWriter.builder(new HadoopPath(Paths.get(root, rel).toUri))
      .withConf(conf).withType(msg).build()
  }

  // whether this write derives omitted GENERATED columns (or reorders
  // to the table's declared layout): srcIdx then rebuilds each row —
  // the common no-gens append keeps the zero-copy fast path
  private val rebuild = fills.nonEmpty ||
    (srcIdx.nonEmpty && !srcIdx.indices.forall(i => srcIdx(i) == i))

  override def write(row0: InternalRow): Unit = {
    // derive omitted generated columns (bound at plan time against the
    // incoming schema) and conform to the table's declared order — the
    // CHECKS below then see the widened row, so gen:<col> invariants
    // verify the very values this writer materialized
    val row: InternalRow = if (!rebuild) row0 else {
      val vals = new Array[Any](srcIdx.length)
      var i = 0
      while (i < srcIdx.length) {
        val s = srcIdx(i)
        vals(i) =
          if (s >= 0) { if (row0.isNullAt(s)) null else row0.get(s, schema.fields(i).dataType) }
          else fills(-s - 1).eval(row0)
        i += 1
      }
      new GenericInternalRow(vals)
    }
    // CHECK constraints, evaluated on the incoming (logical-order) row
    // before anything lands in the file: TRUE and NULL pass (SQL's
    // three-valued CHECK), FALSE refuses loudly — the task fails, the
    // batch aborts, the commit never mints a version
    var c = 0
    while (c < checks.length) {
      val (name, sql, ex) = checks(c)
      if (ex.eval(row) == false) {
        val rendered = Seq.tabulate(schema.length)(i =>
          s"${schema.fields(i).name}=${if (row.isNullAt(i)) "null" else row.get(i, schema.fields(i).dataType)}")
        throw new IllegalArgumentException(
          s"graft check constraint '$name' CHECK ($sql) violated on INSERT into " +
            s"$root by row: ${rendered.mkString(", ")}")
      }
      c += 1
    }
    val g = groups.newGroup()
    var i = 0
    while (i < schema.length) {
      if (row.isNullAt(i) && !schema.fields(i).nullable)
        // the resident files declare this column REQUIRED — parquet's
        // NOT NULL constraint; fail the task loudly instead of letting
        // the writer die on a "not enough values" at close
        throw new IllegalArgumentException(
          s"graft-snapshot write to $root: NULL into column " +
            s"${schema.fields(i).name}, which the resident files declare " +
            "REQUIRED (NOT NULL)")
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case LongType => g.add(i, row.getLong(i))
        case IntegerType => g.add(i, row.getInt(i))
        case DoubleType => g.add(i, row.getDouble(i))
        case FloatType => g.add(i, row.getFloat(i))
        case BooleanType => g.add(i, row.getBoolean(i))
        case StringType => g.add(i, row.getUTF8String(i).toString)
        case dt @ (_: StructType | _: ArrayType | _: MapType) =>
          writeValue(g, i, dt, row, i, nestedWritePlans(i))
        case other => sys.error(s"graft-snapshot write: unsupported type $other")
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    // an empty task file would be a useless manifest entry — drop it
    if (rows == 0L) { java.nio.file.Files.deleteIfExists(Paths.get(root, rel)); SnapshotFileCommit("") }
    else SnapshotFileCommit(rel)
  }
  override def abort(): Unit = {
    writer.close()
    java.nio.file.Files.deleteIfExists(Paths.get(root, rel))
  }
  override def close(): Unit = ()
}

private[sources] object SnapshotAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val go = !emitted; emitted = true; go }
      override def get(): InternalRow =
        new GenericInternalRow(p.asInstanceOf[SnapshotAggPartition].values)
      override def close(): Unit = ()
    }
}

/** Executor-side reader: parquet example-Group records of ONE file,
  * decoded to InternalRow through the PRUNED request schema — columns
  * outside the projection are never decompressed.
  *
  * Evolution-aware: the request is intersected with THIS file's footer
  * schema before the scan (parquet rejects a request naming a column
  * the file lacks), and fields outside the file surface as null — the
  * add-column contract. An unevolved file carries every requested
  * column, so the intersection is the identity and the fast path pays
  * one footer read (already required by parquet's own open). */
private[sources] case class SnapshotReaderFactory(projectedMessage: String,
    pruned: StructType, evolved: Boolean = false,
    nestedMap: Map[String, SnapshotTable.ColNode] = Map.empty)
    extends PartitionReaderFactory {

  /** Uniform (shared-request) mode with a PER-FILE FALLBACK: parquet
    * demands EXACT repetition equality at every depth, and a
    * Scala-route CoW rewrite can legitimately land nested fields
    * OPTIONAL beside seed files' REQUIRED — so a file that refuses the
    * shared request at open (InvalidRecordException, before any row is
    * served) is retried in per-file mode, where the request carries
    * ITS own declarations and the decode plans follow them. Uniform
    * tables — the 100 TB common case — pay ZERO extra footer IO;
    * only a genuinely divergent file pays one footer re-open. Inner
    * field ORDER divergence alone never triggers this: parquet
    * materializes group fields by NAME under the shared request. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    if (evolved) createReader0(p)
    else new PartitionReader[InternalRow] {
      private var inner = createReader0(p)
      private var first = true
      private def repetitionMismatch(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[org.apache.parquet.io.InvalidRecordException])
      override def next(): Boolean =
        if (!first) inner.next()
        else {
          first = false
          try inner.next()
          catch { case e: Throwable if repetitionMismatch(e) =>
            try inner.close() catch { case _: Throwable => () }
            inner = copy(evolved = true).createReader0(p)
            inner.next()
          }
        }
      override def get(): InternalRow = inner.get()
      override def close(): Unit = inner.close()
    }

  private def createReader0(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[SnapshotFilePartition]
    val path = fp.path
    // deletion vector: the ordinals (file positions) this scan must
    // skip — loaded executor-side from the tiny sidecar parquet
    val dv: java.util.HashSet[java.lang.Long] =
      fp.dvPath.map(SnapshotSourceUtil.loadDvSet).orNull
    new PartitionReader[InternalRow] {
      import scala.jdk.CollectionConverters._
      private val request = MessageTypeParser.parseMessageType(projectedMessage)
      // the per-file footer pre-read happens ONLY for evolved versions:
      // a uniform table (the overwhelmingly common case — this is an
      // extra metadata RPC per file at 100 TB) skips straight to the
      // shared request schema
      private val fileMeta: Option[(Map[String, org.apache.parquet.schema.Type], Long)] =
        if (!evolved) None
        else ParquetFooters.withFooter(new HadoopPath(path))((r, _) =>
          Some((r.getFooter.getFileMetaData.getSchema.getFields.asScala
              .map(f => f.getName -> f).toMap,
            r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)))
      private val fileRows: Long = fileMeta.fold(0L)(_._2)
      // pruned index i → slot in the per-file request, -1 = absent
      private val slot: Array[Int] = fileMeta match {
        case None => Array.tabulate(pruned.length)(identity)
        case Some((fileFields, _)) =>
          var next = 0
          pruned.fields.map { f =>
            if (fileFields.contains(f.name)) { val s = next; next += 1; s } else -1
          }
      }
      // the request must carry the FILE's own field declarations (the
      // union schema demotes evolution-gap columns to OPTIONAL, which
      // parquet rejects against a file that declared them REQUIRED)
      private val fileRequest = fileMeta match {
        case None => request
        case Some((fileFields, _)) =>
          new MessageType(request.getName,
            request.getFields.asScala.collect {
              case f if fileFields.contains(f.getName) => fileFields(f.getName)
            }.toList.asJava: java.util.List[org.apache.parquet.schema.Type])
      }
      // a projection of ONLY evolved columns over a pre-evolution file
      // intersects to zero scannable columns: parquet cannot drive an
      // empty scan, but the row COUNT is in the footer — emit that many
      // all-null rows without touching a data page
      private val reader =
        if (evolved && fileRequest.getFieldCount == 0) null
        else {
          val conf = new Configuration()
          conf.set(ReadSupport.PARQUET_READ_SCHEMA, fileRequest.toString)
          ParquetReader.builder(new GroupReadSupport(), new HadoopPath(path))
            .withConf(conf).build()
        }
      // DV'd rows never surface: the all-null fast path subtracts the
      // sidecar's cardinality, the scanning path counts ordinals and
      // skips members (file position == read order)
      private var nullRowsLeft =
        if (dv == null) fileRows else fileRows - dv.size
      private var ord: Long = -1L
      private var cur: Group = _
      override def next(): Boolean =
        if (reader == null) { nullRowsLeft -= 1; nullRowsLeft >= 0 }
        else if (dv == null) { cur = reader.read(); cur != null }
        else {
          cur = reader.read()
          ord += 1
          while (cur != null && dv.contains(ord)) { cur = reader.read(); ord += 1 }
          cur != null
        }
      // the FILE's physical primitive per pruned slot (evolved mode
      // only — uniform tables decode straight at the requested type):
      // a type-WIDENED table reads files narrower than the schema of
      // record, and the decode upcasts in-slot (int32→long/double,
      // float→double, int64→double) — Spark's own parquet readers
      // promote the same way since 4.0
      private val filePrim: Array[org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] =
        fileMeta match {
          case None => null
          case Some((fileFields, _)) => pruned.fields.map { f =>
            // nested (group) columns never upcast — null, same as absent
            fileFields.get(f.name).filter(_.isPrimitive)
              .map(_.asPrimitiveType().getPrimitiveTypeName).orNull
          }
        }
      // NESTED decode plans (r16 structs, r17 lists/maps): for each
      // pruned slot holding a nested type, the group's field indices
      // matched by NAME once at reader build — the per-row loop stays
      // lookup-free. The plan's SHAPE AUTHORITY is whatever this
      // reader requests: the static request in uniform mode (parquet
      // materializes group fields by name under it), the FILE's own
      // declaration in per-file mode — a CoW rewrite can reorder
      // inner fields and flip repetitions per file, so per-file plans
      // must never index the static layout (r17 review).
      private def groupPlan(st: StructType,
          gt: org.apache.parquet.schema.GroupType,
          node: Option[SnapshotTable.ColNode] = None): Array[(Int, DataType, AnyRef)] =
        st.fields.map { f =>
          // a NESTED column mapping (any depth — the tree descends
          // with the plan) translates the pruned struct's LOGICAL
          // field name to the file's physical one before the
          // positional lookup
          val pn = node.fold(f.name)(_.physicalOf(f.name))
          val j = if (gt.containsField(pn)) gt.getFieldIndex(pn) else -1
          val sub: AnyRef =
            if (j < 0) null
            else f.dataType match {
              case s: StructType => groupPlan(s, gt.getType(j).asGroupType(),
                node.flatMap(_.children.get(f.name)))
              case dt => nestedSub(dt, gt.getType(j))
            }
          (j, f.dataType, sub)
        }
      // sub-plan per DataType: struct → field plan; array → element
      // sub-plan; map → [key sub-plan, value sub-plan]; primitive → null
      private def nestedSub(dt: DataType,
          pt: org.apache.parquet.schema.Type): AnyRef = dt match {
        case s: StructType => groupPlan(s, pt.asGroupType())
        case ArrayType(et, _) =>
          nestedSub(et, pt.asGroupType().getType(0).asGroupType().getType(0))
        case MapType(kt, vt, _) =>
          val kv = pt.asGroupType().getType(0).asGroupType()
          Array[AnyRef](nestedSub(kt, kv.getType(0)), nestedSub(vt, kv.getType(1)))
        case _ => null
      }
      private val nestedPlans: Array[AnyRef] =
        pruned.fields.zipWithIndex.map { case (f, i) =>
          f.dataType match {
            case _: StructType | _: ArrayType | _: MapType =>
              // the group a row materializes under is the REQUESTED
              // declaration — the static request in uniform mode, but
              // THE FILE'S OWN group in per-file (evolved/rowIds/CDF)
              // mode, whose inner layout can differ across files (a
              // nested-mapped CoW rewrite reorders struct fields) —
              // so plans must index the layout this reader will
              // actually see, never the static request's (r17 review)
              val pt: Option[org.apache.parquet.schema.Type] = fileMeta match {
                case None => Some(request.getType(i))
                case Some((fileFields, _)) =>
                  val t = fileFields.get(f.name)
                  // per-file (evolved/widened/captured) mode: the
                  // footer is already in hand — refuse a file whose
                  // nested shape diverges from the schema of record AT
                  // READER BUILD, named, instead of mis-decoding
                  // positionally mid-task. Captured (zero-footer)
                  // planning never runs the union's conflict check, so
                  // this is where a hand-registered divergent file
                  // surfaces (r17's capture-bypass note). Skipped per
                  // COLUMN when THAT column is nested-mapped: its
                  // pruned inner names are LOGICAL and the file's
                  // physical — not comparable by name (the decode
                  // plans translate instead); unmapped columns stay
                  // guarded even when another column carries a mapping.
                  if (!nestedMap.contains(f.name)) t.foreach { ft =>
                    val fdt = SnapshotSourceUtil.sparkType(ft)
                    if (!SnapshotSourceUtil.structurallyServes(fdt, f.dataType))
                      throw new IllegalStateException(
                        s"graft-snapshot: file $path column ${f.name} declares " +
                          s"${fdt.simpleString} but the scan requests " +
                          s"${f.dataType.simpleString} — nested columns cannot " +
                          "evolve (add-column evolution only); this file diverges " +
                          "from the table's schema capture")
                  }
                  t
              }
              pt.map { t =>
                f.dataType match {
                  case s: StructType if nestedMap.contains(f.name) =>
                    // a nested-mapped struct: the request carries the
                    // FULL physical group (dropped fields ride along
                    // undecoded); the plan translates logical field
                    // names through the mapping tree at every depth,
                    // matching the ALTER surface
                    groupPlan(s, t.asGroupType(), nestedMap.get(f.name))
                  case dt => nestedSub(dt, t)
                }
              }.orNull
            case _ => null
          }
        }
      private def decodeGroup(g: Group,
          plan: Array[(Int, DataType, AnyRef)]): InternalRow = {
        val vals = new Array[Any](plan.length)
        var i = 0
        while (i < plan.length) {
          val (j, dt, sub) = plan(i)
          vals(i) =
            if (j < 0 || g.getFieldRepetitionCount(j) == 0) null
            else decodeValue(g, j, 0, dt, sub)
          i += 1
        }
        new GenericInternalRow(vals)
      }
      /** One non-null value at (field j, occurrence k) of `g`, decoded
        * to Spark's internal representation — the shared kernel for
        * top-level slots, struct fields, list elements and map
        * entries. */
      private def decodeValue(g: Group, j: Int, k: Int,
          dt: DataType, sub: AnyRef): Any = dt match {
        case LongType => g.getLong(j, k)
        case IntegerType => g.getInteger(j, k)
        case DoubleType => g.getDouble(j, k)
        case FloatType => g.getFloat(j, k)
        case BooleanType => g.getBoolean(j, k)
        case StringType => UTF8String.fromString(g.getString(j, k))
        case _: StructType => decodeGroup(g.getGroup(j, k),
          sub.asInstanceOf[Array[(Int, DataType, AnyRef)]])
        case ArrayType(et, _) =>
          // 3-level LIST: g.getGroup(j,k) is the LIST group; its single
          // repeated inner group holds one element each — an unset
          // element slot (repetition 0) is a NULL element, zero inner
          // groups is an EMPTY (non-null) array
          val lg = g.getGroup(j, k)
          val n = lg.getFieldRepetitionCount(0)
          val out = new Array[Any](n)
          var x = 0
          while (x < n) {
            val eg = lg.getGroup(0, x)
            out(x) = if (eg.getFieldRepetitionCount(0) == 0) null
              else decodeValue(eg, 0, 0, et, sub)
            x += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
        case MapType(kt, vt, _) =>
          val mg = g.getGroup(j, k)
          val n = mg.getFieldRepetitionCount(0)
          val keys = new Array[Any](n)
          val mvals = new Array[Any](n)
          val subs = sub.asInstanceOf[Array[AnyRef]]
          var x = 0
          while (x < n) {
            val kvg = mg.getGroup(0, x)
            keys(x) = decodeValue(kvg, 0, 0, kt, subs(0))
            mvals(x) = if (kvg.getFieldRepetitionCount(1) == 0) null
              else decodeValue(kvg, 1, 0, vt, subs(1))
            x += 1
          }
          new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(mvals))
        case other => sys.error(s"graft-snapshot: unsupported nested type $other")
      }
      override def get(): InternalRow = {
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val vals = new Array[Any](pruned.length)
        var i = 0
        while (i < pruned.length) {
          val j = slot(i)
          val prim = if (filePrim == null) null else filePrim(i)
          vals(i) =
            if (j < 0 || cur.getFieldRepetitionCount(j) == 0) null
            else pruned.fields(i).dataType match {
              case LongType =>
                if (prim == INT32) cur.getInteger(j, 0).toLong else cur.getLong(j, 0)
              case IntegerType => cur.getInteger(j, 0)
              case DoubleType => prim match {
                case INT32 => cur.getInteger(j, 0).toDouble
                case INT64 => cur.getLong(j, 0).toDouble
                case FLOAT => cur.getFloat(j, 0).toDouble
                case _ => cur.getDouble(j, 0)
              }
              case FloatType => cur.getFloat(j, 0)
              case BooleanType => cur.getBoolean(j, 0)
              case StringType => UTF8String.fromString(cur.getString(j, 0))
              case dt @ (_: StructType | _: ArrayType | _: MapType) =>
                decodeValue(cur, j, 0, dt, nestedPlans(i))
              case other => sys.error(s"graft-snapshot: unsupported type $other")
            }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

/** Row-id wrapper over the evolution-aware file reader (x41 through
  * the connector): the inner read requests the projection's table
  * columns plus `__row_id` (absent → null via the per-file
  * intersection), the wrapper tracks the file ORDINAL itself — the
  * inner reader runs without its deletion vector so skipped rows still
  * advance the position — anti-filters DV'd ordinals, and resolves
  * `_row_id` = coalesce(materialized __row_id, partition base +
  * ordinal): byte-for-byte the [[SnapshotTable.relsWithIds]] rule, so
  * the DSv2 route and the Scala route cannot diverge. */
private[sources] case class SnapshotRowIdReaderFactory(projectedMessage: String,
    innerPruned: StructType, out: StructType,
    idNames: Set[String] = Set(SnapshotSourceUtil.RowIdField),
    nestedMap: Map[String, SnapshotTable.ColNode] = Map.empty,
    starts: Map[String, Long] = Map.empty)
    extends PartitionReaderFactory {

  private val inner = SnapshotReaderFactory(projectedMessage, innerPruned,
    evolved = true, nestedMap)
  // __row_id is always the LAST inner slot (rowIdFactory appends it)
  private val matSlot = innerPruned.length - 1
  private val slot: Array[Int] = out.fields.map { f =>
    if (idNames.contains(f.name)) -1 else innerPruned.fieldIndex(f.name)
  }
  // per-output-slot READ-SIDE offset (identity START WITH; 0 for
  // `_row_id` and every data column)
  private val startOf: Array[Long] = out.fields.map(f => starts.getOrElse(f.name, 0L))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[SnapshotFilePartition]
    val dv: java.util.HashSet[java.lang.Long] =
      fp.dvPath.map(SnapshotSourceUtil.loadDvSet).orNull
    val hasBase = fp.rowBase.isDefined
    val base = fp.rowBase.getOrElse(0L)
    val in0 = inner.createReader(SnapshotFilePartition(fp.path))
    new PartitionReader[InternalRow] {
      private var ord = -1L
      override def next(): Boolean = {
        var has = in0.next(); ord += 1
        while (has && dv != null && dv.contains(ord)) { has = in0.next(); ord += 1 }
        has
      }
      override def get(): InternalRow = {
        val in = in0.get()
        val vals = new Array[Any](slot.length)
        var i = 0
        while (i < slot.length) {
          vals(i) = slot(i) match {
            case -1 =>
              if (!in.isNullAt(matSlot)) in.getLong(matSlot) + startOf(i)
              else if (hasBase) base + ord + startOf(i)
              else null // no base on record: null id, never a wrong one
            case j => in.get(j, innerPruned.fields(j).dataType)
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = in0.close()
    }
  }
}
