package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.types.StructType

/** Parquet footer access: the one way graft opens a footer (snapshot
  * read planning, bloom probes, commit-time stats harvest, the DSv2
  * connector), and the in-process schema resolution that lets a plain
  * parquet read plan without Spark's schema-inference job. */
object ParquetFooters {
  // one Configuration for every open: construction parses the Hadoop
  // XML resource chain, pure waste per file
  private[graft] lazy val hadoopConf = new Configuration()
  // ...and one set of read options built from it: the option-less
  // `ParquetFileReader.open(in)` rebuilds them from a fresh conf on
  // every call, ~15x the cost of the footer read itself
  private lazy val readOptions = HadoopReadOptions.builder(hadoopConf).build()

  /** Diagnostics: footer opens since JVM start, the counterpart of
    * `SnapshotTable.manifestReads` — ReadPlanningSpec pins a point
    * lookup at one open per candidate file on it. */
  private[graft] val opens = new AtomicLong

  /** Open `path`'s footer and hand `f` the reader plus the file's byte
    * length — already known to the open (HadoopInputFile wraps the
    * FileStatus the footer locate needs), so it costs zero extra
    * metadata calls. */
  def withFooter[T](path: Path)(f: (ParquetFileReader, Long) => T): T = {
    opens.incrementAndGet()
    val in = HadoopInputFile.fromPath(path, hadoopConf)
    val reader = ParquetFileReader.open(in, readOptions)
    try f(reader, in.getLength) finally reader.close()
  }

  /** The data schema `s.read.parquet(path)` infers, from ONE footer read
    * in-process instead of an inference job. A directory samples the
    * footer Spark's non-merging inference samples. */
  def inferredSchema(s: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val file = if (fs.getFileStatus(p).isDirectory) inferenceFile(fs, p) else p
    withFooter(file)((r, _) => GraftParquetShim.footerSchema(s, file, r.getFooter))
  }

  /** Over the leaf files Spark's listing keeps (no `_`/`.`-prefixed
    * names below `dir` other than the parquet summaries and `k=v`
    * partition dirs, no in-flight `._COPYING_`), sorted by full path: a
    * `_common_metadata` summary, else a `_metadata` one, else the first
    * data file. */
  private def inferenceFile(fs: FileSystem, dir: Path): Path = {
    val summaries = Seq("_common_metadata", "_metadata")
    def listed(name: String) =
      summaries.exists(name.startsWith) ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    def leaves(d: Path): Seq[FileStatus] =
      fs.listStatus(d).toSeq.filter(st => listed(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    val files = leaves(fs.makeQualified(dir)).map(_.getPath).sortBy(_.toString)
    summaries.flatMap(n => files.find(_.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getName)))
      .getOrElse(throw new IllegalArgumentException(
        s"parquet read of $dir: no data files to take a schema from"))
  }
}
