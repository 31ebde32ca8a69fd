package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.Skew

/** Source-format round-trips (SURVEY §2.1 "csv/json sources") and the
  * skew-salting helpers (SURVEY §4).
  */
class SourceSpec extends SparkSpec {

  test("csv round-trip: write with header+schema, read back identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv_").toString + "/out"
    val orig = Tables.nation(spark, sf)
    orig.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(orig.schema).csv(dir)
    assert(back.orderBy($"n_nationkey").collect().toSeq ===
      orig.orderBy($"n_nationkey").collect().toSeq)
  }

  test("schema drift guard: events.parquet ts unit is one the loader handles, values in the documented domain") {
    import spark.implicits._
    // The driver regenerated events.parquet between rounds 8 and 9 and the
    // physical ts encoding CHANGED (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)),
    // silently breaking 22 oracle rows. This guard makes the next regen fail
    // ONE spec loudly, naming the found unit, instead of failing the oracle
    // silently: (a) the footer annotation must be a unit Tables.journal
    // adapts to; (b) the normalized values must land in FIXTURES.md's
    // documented 2024 event-time domain (catches a wrong-unit divide, which
    // collapses 30 days into minutes of 1970, regardless of the annotation).
    val unit = Tables.eventsTsUnit(spark, s"$sf/events.parquet")
    assert(Set("NANOS", "MICROS", "MILLIS").contains(unit),
      s"events.parquet ts carries parquet annotation unit '$unit' — " +
        "Tables.journal only adapts to NANOS/MICROS/MILLIS; the driver " +
        "regenerated testdata with a new encoding, update Tables.scala")
    val r = Tables.events(spark, sf)
      .agg(min(year($"ts")).as("y0"), max(year($"ts")).as("y1"),
        count(lit(1)).as("n")).first()
    assert(r.getLong(2) > 0L)
    assert(r.getInt(0) >= 2020 && r.getInt(1) <= 2030,
      s"normalized events.ts spans years ${r.getInt(0)}..${r.getInt(1)} — " +
        s"outside the documented 2024 domain; the loader is decoding the " +
        s"'$unit'-annotated column with the wrong unit (FIXTURES.md events)")
  }

  test("NANOS-era journal branch: synthetic timestamp[ns] parquet sniffs, normalizes and bounds correctly") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import spark.implicits._
    // the live testdata is µs-era, so the rounds-1-8 NANOS fallback in
    // Tables.journal would otherwise be dead code until the driver flips
    // the encoding back — synthesize a real TIMESTAMP(NANOS) file (Spark
    // cannot write one; parquet-java can) and drive the branch end to end
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val dir = Files.createTempDirectory("graft_ns_era_").toString
    val file = s"$dir/events.parquet"
    val conf = spark.sessionState.newHadoopConf()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withConf(conf).withType(schema).build()
    // ns values with sub-µs tails: 2024-01-01T00:00:00Z is 1704067200 s
    val baseNs = 1704067200L * 1000000000L
    val rowsNs = Seq(baseNs, baseNs + 1500L, baseNs + 60L * 1000000000L + 999999999L)
    val f = new SimpleGroupFactory(schema)
    try rowsNs.zipWithIndex.foreach { case (ns, i) =>
      val g = f.newGroup()
      g.add("event_id", i.toLong); g.add("ts", ns); g.add("user_id", 7L)
      g.add("event_type", "click"); g.add("value", 1.5); g.add("props", """{"k":1}""")
      writer.write(g)
    } finally writer.close()
    assert(Tables.eventsTsUnit(spark, file) === "NANOS")
    // normalization: ts = floor(ns/1000) µs (the DuckDB-matching truncation)
    val got = Tables.journal(spark, file)
      .select(unix_micros($"ts")).as[Long].collect().sorted
    assert(got === rowsNs.map(_ / 1000L).sorted.toArray)
    // the epoch-ms upper bound prunes in the ns domain and keeps the
    // boundary millisecond's sub-ms tail (rows 0 and 1 share the cutoff ms)
    val bounded = Tables.journal(spark, file, upToMs = Some(baseNs / 1000000L))
    assert(bounded.count() === 2L)
    // the replay bus normalizes the same era to the µs TimestampType shape
    val busTs = new graft.sources.ParquetReplayBus().events(spark, dir)
      .schema("ts").dataType
    assert(busTs === org.apache.spark.sql.types.TimestampType)
  }

  test("schema drift guard: every table reads with the documented column names and types") {
    import org.apache.spark.sql.types._
    // the events-unit guard above catches the encoding drift that actually
    // happened; this one catches the rest of the space — a regen that
    // renames, retypes, reorders or adds columns on ANY table fails here
    // naming the exact diff, instead of failing oracle rows downstream.
    // Timestamp flavors (TIMESTAMP vs TIMESTAMP_NTZ) normalize to one token:
    // operators only ever see them through the UTC-pinned session. The exact
    // types of the declared fixtures are checked against their footers below.
    def norm(dt: DataType): String = dt match {
      case TimestampType | TimestampNTZType => "timestamp"
      case ArrayType(e, _)                  => s"array<${norm(e)}>"
      case other                            => other.typeName
    }
    val expected = Map(
      "region" -> "r_regionkey:integer, r_name:string",
      "nation" -> "n_nationkey:integer, n_name:string, n_regionkey:integer",
      "customer" -> ("c_custkey:long, c_name:string, c_nationkey:integer, " +
        "c_acctbal:double, c_mktsegment:string"),
      "supplier" -> "s_suppkey:long, s_name:string, s_nationkey:integer, s_acctbal:double",
      "part" -> ("p_partkey:long, p_name:string, p_brand:string, p_type:string, " +
        "p_size:integer, p_retailprice:double"),
      "orders" -> ("o_orderkey:long, o_custkey:long, o_orderstatus:string, " +
        "o_totalprice:double, o_orderdate:timestamp, o_orderpriority:string"),
      "lineitem" -> ("l_orderkey:long, l_partkey:long, l_suppkey:long, " +
        "l_linenumber:integer, l_quantity:double, l_extendedprice:double, " +
        "l_discount:double, l_tax:double, l_returnflag:string, " +
        "l_linestatus:string, l_shipdate:timestamp"),
      "events" -> ("event_id:long, ts:timestamp, user_id:long, " +
        "event_type:string, value:double, props:string"),
      "documents" -> "doc_id:long, text:string, lang:string, source:string, n_chars:long",
      "embeddings" -> "vec_id:long, embedding:array<float>, label:integer")
    for ((name, want) <- expected) {
      val df =
        if (name == "events") Tables.events(spark, sf) else Tables.t(spark, sf, name)
      val got = df.schema.map(f => s"${f.name}:${norm(f.dataType)}").mkString(", ")
      assert(got == want,
        s"table '$name' schema drifted under a testdata regen:\n  found    $got\n" +
          s"  expected $want\nupdate FIXTURES.md + the affected loaders/ops together")
    }
  }

  /** The fixtures `Tables.t` reads with a declared schema. */
  private val declaredFixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  test("schema drift guard: every declared fixture schema equals its parquet footers' at every scale") {
    // Tables.t reads with a declared schema, so the guard above only sees
    // the declaration; here each file's own footers are inferred and must
    // equal it exactly, timestamp flavour and nullability included — a
    // regen that changes any column type fails here instead of being read
    // with the declared one
    val scales = new java.io.File(sf).getParentFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("sf")).map(_.getPath).sorted.toSeq
    assert(scales.size >= 3, s"expected the sf0.001/sf0.01/sf0.1 fixtures, found $scales")
    for (dir <- scales; name <- declaredFixtures) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      val declared = Tables.t(spark, dir, name).schema
      assert(inferred == declared,
        s"$dir/$name.parquet footers no longer match the declaration in Tables:\n" +
          s"  footers  ${inferred.toDDL}\n  declared ${declared.toDDL}")
    }
    val e = intercept[IllegalArgumentException](Tables.t(spark, sf, "events"))
    assert(e.getMessage.contains("'events'"), e.getMessage)
  }

  test("fixture resolution runs no Spark job: every declared table and the sql_q3/sql_q5 frames") {
    val (jobs, _) = sparkEventsDuring {
      declaredFixtures.foreach(name => Tables.t(spark, sf, name))
      Seq("sql_q3", "sql_q5").foreach(k => SparkEntry.queries(k)(spark, sf))
    }
    assert(jobs.isEmpty, s"${jobs.size} Spark jobs while resolving fixtures")
  }

  test("json round-trip: nested struct survives with explicit schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_json_").toString + "/out"
    val orig = Tables.customer(spark, sf)
      .select($"c_custkey", struct($"c_name", $"c_acctbal").as("info"), $"c_mktsegment")
    orig.write.json(dir)
    val back = spark.read.schema(orig.schema).json(dir)
    assert(back.orderBy($"c_custkey").collect().toSeq ===
      orig.orderBy($"c_custkey").collect().toSeq)
    assert(back.select($"info.c_acctbal").schema.head.dataType.typeName === "double")
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of probe rows share key 0 — the skew scenario
    val probe = spark.range(0, 10000)
      .select((when($"id" % 10 =!= 0, $"id" % 50).otherwise(0L)).as("k"), $"id".as("v"))
    val build = spark.range(0, 50).select($"id".as("k"), ($"id" * 100).as("w"))
    val plain = probe.join(build, "k").select($"k", $"v", $"w")
    val salted = Skew.saltedJoin(probe, build, "k", salts = 8).select($"k", $"v", $"w")
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
  }

  test("saltedCount equals plain groupBy count on skewed data") {
    import spark.implicits._
    val df = spark.range(0, 20000)
      .select(when($"id" % 5 =!= 0, $"id" % 7).otherwise(0L).as("k"))
    val plain = df.groupBy($"k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, "k", salts = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }
}
