package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.StructType

/** Canonical loaders for the driver-generated parquet tables
  * (schemas documented in FIXTURES.md and declared here).
  *
  * All loaders take the scale-factor directory so every operator stays a pure
  * `(SparkSession, String) => DataFrame` (SURVEY.md §7). Reads go through
  * Spark's vectorized parquet reader; predicate pushdown and column pruning
  * are Catalyst's job — callers `select`/`filter` declaratively and never
  * cache here (at 100 TB these tables do not fit in memory; each query plans
  * its own pruned scan).
  */
object Tables {
  /** The row shape of every fixture [[t]] reads, exactly as schema inference
    * over the parquet footers gives it (FIXTURES.md): the driver writes the
    * TPC-H dates unadjusted-to-UTC, so they are TIMESTAMP_NTZ, and every
    * column is nullable. Declaring it takes inference's schema job off
    * every resolution; SourceSpec checks each declaration against the
    * footers of every scale dir.
    */
  private val declared: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** The fixture `name` under the scale-factor dir `dir`, read with its
    * declared schema: resolving it runs no Spark job. A name without a
    * declaration throws; `events` has its own loader ([[events]]).
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = declared.getOrElse(name, throw new IllegalArgumentException(
      s"Tables.t: no declared schema for table '$name' (declared: " +
        s"${declared.keys.toSeq.sorted.mkString(", ")})"))
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")

  // ===== events: the one table whose physical timestamp encoding has CHANGED
  // under the repo (rounds 1-8: parquet TIMESTAMP(NANOS); the 2026-08-13 regen:
  // TIMESTAMP(MICROS, isAdjustedToUTC=false)). The loader therefore SNIFFS the
  // footer annotation and adapts, instead of hardcoding either era's workaround
  // — a schema-drift guard spec (SourceSpec) fails loudly if a future regen
  // introduces a third encoding. In both eras the logical value is identical:
  // event time, UTC, µs precision (sessions pin spark.sql.session.timeZone=UTC).

  /** Raw row shape of the NANOS-era journal: ts read back as the raw int64.
    * Spark 4 refuses TIMESTAMP(NANOS) natively (PARQUET_TYPE_ILLEGAL); an
    * explicit LongType user schema makes the vectorized reader hand back the
    * raw nanos — scoped to that read, no session-wide
    * `spark.sql.legacy.parquet.nanosAsLong` mutation.
    */
  val eventsRawSchema: StructType =
    StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")

  /** Native row shape of the MICROS-era journal. The driver writes `ts`
    * unadjusted-to-UTC, which schema inference would surface as
    * TIMESTAMP_NTZ; declaring TimestampType here pins one Catalyst type for
    * every downstream operator (value-identical under the pinned UTC session
    * zone) and keeps ts-predicate pushdown on the scan.
    */
  val eventsMicrosSchema: StructType =
    StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")

  private val tsUnitCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The parquet TIMESTAMP unit annotation on `ts` in the footer under
    * `path` (a single file or a directory tree, e.g. a date-partitioned
    * journal): "NANOS" | "MICROS" | "MILLIS", or "NONE" when ts carries no
    * timestamp annotation (e.g. an INT96-era journal rewrite). One footer
    * read per distinct path per JVM (cached) — at 100 TB this is one
    * metadata RPC, not a data scan.
    */
  def eventsTsUnit(s: SparkSession, path: String): String =
    tsUnitCache.computeIfAbsent(path, { p: String =>
      val conf = s.sessionState.newHadoopConf()
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(hp).isDirectory) {
          val it = fs.listFiles(hp, true)
          var found: Path = null
          while (found == null && it.hasNext) {
            val f = it.next().getPath
            if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_")) found = f
          }
          if (found == null)
            throw new IllegalStateException(s"no parquet files under $p to sniff the ts unit from")
          found
        } else hp
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val msg = reader.getFooter.getFileMetaData.getSchema
        val ts = msg.getType(msg.getFieldIndex("ts"))
        ts.asPrimitiveType().getLogicalTypeAnnotation match {
          case a: TimestampLogicalTypeAnnotation => a.getUnit.name()
          case _                                 => "NONE"
        }
      } finally reader.close()
    })

  /** Unit-aware events/journal read — the single place the physical ts
    * encoding is known. Returns rows in the normalized shape (`ts` a µs
    * TimestampType), with two scan-level knobs the as-of/replay paths need:
    *
    * @param withDate add the `event_date DATE` partition column (the
    *                 [[graft.ops.StreamingOps.writeJournal]] 100 TB layout)
    * @param upToMs   inclusive epoch-ms upper bound, applied in the FILE's
    *                 unit BEFORE normalization so it reaches the parquet scan
    *                 as a PushedFilter (`unix_millis(ts) <= tMs` semantics:
    *                 the bound keeps every sub-ms tail of the boundary ms)
    */
  def journal(s: SparkSession, path: String, withDate: Boolean = false,
              upToMs: Option[Long] = None): DataFrame = {
    val isNanos = eventsTsUnit(s, path) == "NANOS"
    val base = if (isNanos) eventsRawSchema else eventsMicrosSchema
    val schema = if (withDate) base.add("event_date", "date") else base
    val df = s.read.schema(schema).parquet(path)
    val bounded = upToMs match {
      case None => df
      case Some(tMs) =>
        require(tMs >= 0, s"journal needs a non-negative epoch-ms cutoff (got $tMs)")
        if (isNanos) df.filter(col("ts") <= lit(tMs * 1000000L + 999999L))
        else df.filter(col("ts") <= expr(s"timestamp_micros(${tMs * 1000L + 999L}L)"))
    }
    if (isNanos) bounded.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else bounded
  }

  def events(s: SparkSession, d: String): DataFrame =
    journal(s, s"$d/events.parquet")

  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
