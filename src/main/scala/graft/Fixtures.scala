package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated parquet fixtures (TESTDATA.md /
  * FIXTURES.md). One call per table; Catalyst prunes columns and pushes
  * predicates into the parquet scan, so these are plain `spark.read`s —
  * no caching layer needed (re-reads are scan-pruned).
  *
  * Analog of the reference's array ingest normalization
  * (reference ccog/ccog.py:936) — here the "chunked array" is a
  * column-pruned parquet scan.
  */
object Fixtures {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.ts normalization, robust to the two encodings the driver
    * has shipped: TIMESTAMP(NANOS) — which Spark only reads as a raw
    * Long under the legacy conf set in [[configure]], truncated here to
    * µs with integer `div` (the ~1.7e18 ns epoch must never route
    * through a double; 2^53 ≈ 9e15 would lose hundreds of ns) — and
    * plain TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ and is
    * cast to the session-TZ (UTC) instant DuckDB also sees. Either way
    * downstream queries get a µs TimestampType column. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        // the NTZ→instant cast interprets wall-clock values in the
        // SESSION time zone; the DuckDB oracle reads them as UTC. A
        // session built without [[configure]] would silently shift
        // every instant by the local offset — fail loudly instead
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is TIMESTAMP_NTZ: the session time zone must be UTC " +
            "(build the session via Fixtures.configure) or the cast to " +
            "TimestampType shifts every instant by the local offset")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType =>
        // tz-adjusted parquet micros (isAdjustedToUTC=true) are already
        // instants — no session-TZ dependence on the Spark side. NOTE:
        // DuckDB reads this encoding as TIMESTAMPTZ, so oracle SQL that
        // CASTs it to TIMESTAMP is only hash-stable on a UTC oracle
        // session (the driver's oracle runs UTC; a non-UTC host would
        // need SET TimeZone='UTC' first)
        raw
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other (expected nanos-as-long or timestamp)")
    }
  }

  /** Session-level confs every graft session needs; call on the builder
    * (Verify / Bench / test sessions) so readers have no side effects.
    * Also injects the engine's native functions (cosine_sim) via
    * SparkSessionExtensions. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)

  /** The local session the driver mains (Bench, Verify, Plans,
    * ShuffleProbe) run on: `local[$SPARK_GRAFT_CPUS]` (default 4) with
    * as many shuffle partitions, no UI, WARN logging. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up before timing: codegen + shuffle machinery + parquet
    * footers, so the first timed query doesn't absorb session start-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).groupBy(expr("id % 10")).count().count()
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
