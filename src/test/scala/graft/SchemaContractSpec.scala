package graft

import graft.sources.Tables
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the schema contract every operator assumes about the test
  * corpus, AS SEEN THROUGH the Tables loaders (i.e. after
  * normalization). Round-5 shipped broken because the events.ts parquet
  * encoding drifted (nanos-long → TIMESTAMP_NTZ) and the breakage only
  * surfaced deep inside three operators at analysis time; this spec
  * makes the next drift fail HERE, by name, before anything else runs.
  * `Tables.events` is the normalization point — whatever the file
  * encodes, operators must see a session-TZ TIMESTAMP. */
class SchemaContractSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def fields(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("events.ts normalizes to session-TZ timestamp whatever the file encodes") {
    val f = fields(Tables.events(spark, sf))
    assert(f("ts") == TimestampType,
      s"events.ts reached operators as ${f("ts")} — extend Tables.normalizeTs")
    assert(f("event_id") == LongType && f("user_id") == LongType &&
      f("event_type") == StringType && f("value") == DoubleType &&
      f("props") == StringType)
  }

  test("documents and embeddings carry the columns the pipeline operators key on") {
    val d = fields(Tables.documents(spark, sf))
    assert(d("doc_id") == LongType && d("text") == StringType &&
      d("lang") == StringType && d("source") == StringType &&
      d("n_chars") == LongType)
    val e = fields(Tables.embeddings(spark, sf))
    assert(e("vec_id") == LongType && e("label") == IntegerType)
    assert(e("embedding") == ArrayType(FloatType, true) ||
      e("embedding") == ArrayType(FloatType, false),
      s"embedding column is ${e("embedding")}")
  }

  test("TPC-H core tables keep their key and measure types") {
    val o = fields(Tables.orders(spark, sf))
    assert(o("o_orderkey") == LongType && o("o_custkey") == LongType &&
      o("o_totalprice") == DoubleType && o("o_orderdate") == TimestampType &&
      o("o_orderpriority") == StringType)
    val l = fields(Tables.lineitem(spark, sf))
    assert(l("l_orderkey") == LongType && l("l_suppkey") == LongType &&
      l("l_quantity") == DoubleType && l("l_extendedprice") == DoubleType &&
      l("l_shipdate") == TimestampType)
    val c = fields(Tables.customer(spark, sf))
    assert(c("c_custkey") == LongType && c("c_nationkey") == IntegerType)
  }

  /** A one-row `events.parquet` under a fresh dir whose ts column has the
    * parquet type `tsType` and no Spark row metadata — as the corpus
    * generator (pyarrow) writes it. */
  private def eventsWith(tsType: String): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = java.nio.file.Files.createTempDirectory("graft_ts").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message m { required int64 event_id; optional int64 ts ($tsType); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 7L).append("ts", 1700000000000000L))
    finally w.close()
    dir
  }

  test("each events.ts encoding reads to exactly the schema inference gives") {
    Seq("TIMESTAMP(NANOS,true)", "TIMESTAMP(MICROS,false)",
        "TIMESTAMP(MICROS,true)").foreach { t =>
      val dir = eventsWith(t)
      val inferred = spark.read.parquet(s"$dir/events.parquet").schema
      assert(Tables.table(spark, dir, "events").schema == inferred,
        s"$t: footer schema != inferred $inferred")
      assert(fields(Tables.events(spark, dir))("ts") == TimestampType, t)
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { n =>
      assert(Tables.table(spark, sf, n).schema ==
        spark.read.parquet(s"$sf/$n.parquet").schema, n)
    }
  }

  test("building Tables.events runs no Spark job") {
    val (df, trace) = JobCounter(spark)(Tables.events(spark, sf))
    assert(fields(df)("ts") == TimestampType)
    assert(trace.jobs == 0, s"Tables.events ran ${trace.jobs} jobs")
  }
}
