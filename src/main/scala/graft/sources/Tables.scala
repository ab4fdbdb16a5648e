package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-aware loaders for the driver-generated star schema
  * (TESTDATA.md). Each loader reads exactly one parquet file under the
  * scale-factor dir passed by the driver; column pruning and filter
  * pushdown happen in the caller's plan and reach the scan because these
  * are plain parquet relations (verified via `.explain("formatted")`:
  * `PushedFilters`/`ReadSchema`). Each relation plans under the schema
  * Spark's inference would give it, read from one footer in-process
  * ([[ParquetFooters.inferredSchema]]): loading a table launches no job.
  *
  * Capability mapping (public MorphL churning-users pipeline): `events`
  * plays the Google-Analytics hit/session stream the reference ingests;
  * `customer`/`orders` play its user/transaction dimensions.
  */
object Tables {
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(ParquetFooters.inferredSchema(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = read(s, d, "lineitem")
  /** The engine contract for `events.ts` is nanos-since-epoch LONG:
    * integer nanos → exact integer second/day arithmetic everywhere
    * downstream (`epoch_s = ts_ns div 1e9`), no sub-second truncation
    * mismatches against the DuckDB oracle (whose SQL is written
    * timestamp-native, `epoch(ts)`). Driver corpora have shipped ts
    * both as parquet TIMESTAMP(NANOS) — which Spark 4 only reads via
    * the nanosAsLong legacy conf, as a raw LONG already meeting the
    * contract — and as TIMESTAMP(MICROS), which Spark reads as a
    * timestamp. [[normalizeTs]] converts the latter at this one seam,
    * so every operator keeps the LONG contract regardless of which
    * vintage of the corpus is mounted. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(read(s, d, "events"))
  }

  /** ts → nanos-since-epoch LONG, whatever the file delivered. The
    * timestamp branch is exact: unix_micros × 1000 loses nothing at
    * µs source resolution. For a TIMESTAMP_NTZ file the cast routes
    * through the SESSION time zone, so the UTC contract is ENFORCED
    * here rather than assumed (ADVICE r11): a non-UTC session would
    * silently shift every normalized ts by the zone offset — fail
    * loudly at the one seam instead. Instant-typed (LTZ) input needs
    * no guard: unix_micros on it is zone-independent. Works on
    * streaming frames too (it is one projection). */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case dt =>
        if (dt == org.apache.spark.sql.types.TimestampNTZType) {
          val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"events.ts is TIMESTAMP_NTZ and the session time zone is $tz: " +
              "the NTZ→instant cast would shift every ts by the zone offset. " +
              "Run with spark.sql.session.timeZone=UTC (the engine contract).")
        }
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
    }
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
