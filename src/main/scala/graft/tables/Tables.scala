package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Typed loaders for the driver test tables (see /root/repo/FIXTURES.md §B).
  *
  * Schemas are explicit — production paths never infer (the reference's one
  * Spark job also declares its schema by hand: a 3-field `StructType` at
  * `streaming_processing/features_engineering.py:23-27`). Passing the schema
  * to the parquet reader skips footer-merge schema inference on the driver,
  * which matters when a table is thousands of files at 100 TB.
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Stand-in for the stock tick stream: ts/user_id/value ≙
    * timestamp/symbol/close (`data_collection/fetch_stock.py:54-58`);
    * `props` exercises `from_json` like `features_engineering.py:38`.
    *
    * `ts` is read as a raw int64 (LongType + `nanosAsLong`) and converted
    * to µs TimestampType via [[rawTsToMicrosFor]], because the fixture's
    * parquet unit has varied across generations — see that doc. */
  val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def load(spark: SparkSession, dir: String, name: String,
                   schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region", regionSchema)
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation", nationSchema)
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer", customerSchema)
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier", supplierSchema)
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part", partSchema)
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders", ordersSchema)
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem", lineitemSchema)
  /** The `ts` unit at `path`, decided ONCE per path from the parquet
    * footers' LOGICAL TYPE ANNOTATIONS and cached. Early fixtures write
    * parquet TIMESTAMP(NANOS) (Spark 4 rejects it as TimestampType with
    * [PARQUET_TYPE_ILLEGAL], hence the LongType + `nanosAsLong` read);
    * later generations write TIMESTAMP(MICROS). The annotation — not
    * schema-inference dtype, not per-row value magnitude — is the exact
    * signal: an UNANNOTATED int64 column would also infer as LongType
    * but carries no unit promise, so it (and a dir mixing units across
    * files) returns `TsUnitUnknown` and the reader falls back to the
    * per-row magnitude CASE that handles either unit within the
    * fixtures' dated domain. Every footer in the glob is checked
    * (metadata-only reads, no row data), so a mixed-unit directory can
    * never be silently classified by one file's footer. */
  val TsUnitNanos = "ns"
  val TsUnitMicros = "us"
  val TsUnitUnknown = "unknown"
  private val tsUnitByPath =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def tsUnit(spark: SparkSession, path: String): String =
    tsUnitByPath.computeIfAbsent(path, p => {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
      val conf = spark.sessionState.newHadoopConf()
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val leaves = Option(fs.globStatus(hp)).getOrElse(Array.empty).flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).filter(s => s.isFile &&
            s.getPath.getName.endsWith(".parquet")).map(_.getPath)
        else Array(st.getPath)
      }
      val units = leaves.map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          if (!schema.containsField("ts")) TsUnitUnknown
          else schema.getType(schema.getFieldIndex("ts"))
            .getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case TimeUnit.NANOS => TsUnitNanos
                case TimeUnit.MICROS => TsUnitMicros
                case _ => TsUnitUnknown // MILLIS never produced; don't guess
              }
            case _ => TsUnitUnknown
          }
        } finally reader.close()
      }.distinct
      if (units.length == 1) units.head else TsUnitUnknown
    })

  /** SQL fragment converting the raw int64 `ts` read via
    * [[eventsRawSchema]] to µs TimestampType, with the ns-vs-µs unit
    * read once from the parquet footers of `path` (the same path/glob
    * the caller reads — see [[tsUnit]]). ns is integer-divided —
    * ns-since-epoch exceeds 2^53, so double division would corrupt the
    * low bits. When the footers don't pin a unit (unannotated int64, or
    * files disagreeing), the per-row magnitude CASE takes over: a value
    * ≥ 1e17 is ns (any date past 1973-03; as µs it would mean year
    * 5138) — correct per row for the fixtures' dated domain even in a
    * MIXED directory, at the cost of the documented pre-1973/negative
    * blind spot the annotation path doesn't have. Shared by the batch
    * reader below and every streaming reader over `events*.parquet`. */
  def rawTsToMicrosFor(spark: SparkSession, path: String): String =
    tsUnit(spark, path) match {
      case TsUnitNanos => "timestamp_micros(ts div 1000)"
      case TsUnitMicros => "timestamp_micros(ts)"
      case _ =>
        "timestamp_micros(CASE WHEN abs(ts) >= 100000000000000000 " +
          "THEN ts div 1000 ELSE ts END)"
    }

  /** The events path/glob the readers share, so unit detection and the
    * actual read always agree on the same footer. */
  def eventsGlob(dir: String): String = s"$dir/events*.parquet"

  /** The events table, `ts` as µs TimestampType (see [[eventsRawSchema]]).
    *
    * Spark 4 reads a TIMESTAMP(NANOS) int64 as LongType only under
    * `spark.sql.legacy.parquet.nanosAsLong`; a TIMESTAMP(MICROS) or
    * unannotated int64 reads as LongType without it. `graft.LocalSpark`
    * sessions set it when built. On any other session this sets it
    * whenever the footers under [[eventsGlob]] do not pin µs: a
    * `TsUnitUnknown` directory may hold nanos files. A µs directory
    * leaves the session's conf as it was. The one place outside
    * `graft.LocalSpark` that writes a session conf. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withMicrosTs(spark, dir, load(spark, dir, "events", eventsRawSchema))

  /** [[events]] as a file stream over [[eventsGlob]]: every parquet file
    * that appears there becomes input of the next micro-batch. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    withMicrosTs(spark, dir,
      spark.readStream.schema(eventsRawSchema).parquet(eventsGlob(dir)))

  private def withMicrosTs(spark: SparkSession, dir: String,
                           raw: DataFrame): DataFrame = {
    val glob = eventsGlob(dir)
    if (tsUnit(spark, glob) != TsUnitMicros)
      spark.conf.set(graft.LocalSpark.NanosAsLong, "true")
    raw.withColumn("ts",
      org.apache.spark.sql.functions.expr(rawTsToMicrosFor(spark, glob)))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents", documentsSchema)
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings", embeddingsSchema)
}
