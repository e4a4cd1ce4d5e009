package graft

/** The SQL facade: registered views answer the reference's flagship query
  * in pure SQL. */
class GraftSpec extends SparkSuite {

  test("approx quantiles track exact within 2% on the fixture lineitem, " +
      "and the registered self-verifying form reports every bound ok") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("q_price_quantiles")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = graft.sources.Tables(spark, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"),
        expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, (p50, p95)) =>
      assert(math.abs(approx(k)._1 - p50) / p50 < 0.02, s"p50 off for $k")
      assert(math.abs(approx(k)._2 - p95) / p95 < 0.02, s"p95 off for $k")
    }
    // the registered query is the GK rank-bound check — every boolean true
    val checks = graft.SparkEntry.queries("q_price_quantiles_approx")(spark, d)
      .collect()
    assert(checks.nonEmpty)
    checks.foreach { r =>
      Seq("p50_rank_ok", "p50_is_member", "p95_rank_ok", "p95_is_member")
        .foreach(c => assert(r.getAs[Boolean](c),
          s"$c false for ${r.getString(0)}"))
    }
  }

  test("query registry: no duplicate names (a dup would silently shadow " +
      "in the Map), and every query carries an oracle") {
    val names = graft.queries.ExtQueries.defs.map(_._1) ++
      graft.queries.ParityQueries.defs.map(_._1) ++
      graft.queries.AnalyticsQueries.defs.map(_._1) ++
      graft.queries.BehaviorQueries.defs.map(_._1)
    val dups = names.groupBy(identity).collect {
      case (n, g) if g.size > 1 => n
    }
    assert(dups.isEmpty, s"duplicate registry names: $dups")
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries without a DuckDB oracle (rows-only): $noOracle")
  }

  test("registerViews exposes fixture, CDC, and activity views for SQL") {
    Graft.registerViews(spark, "/root/testdata/sf0.001")
    val page = spark.sql(
      """SELECT user_id, activity_type, event_timestamp
        |FROM user_activity
        |WHERE user_id IN (SELECT DISTINCT following_id FROM followers_cdc
        |                  WHERE __op = 'c' AND follower_id = '1')
        |ORDER BY event_timestamp DESC, activity_pk DESC
        |LIMIT 50""".stripMargin)
    assert(page.count() === 50)
    assert(spark.sql("SELECT count(*) FROM documents").collect().head.getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM likes_cdc WHERE __op = 'c'")
      .collect().head.getLong(0) > 0)
  }

  /** The `src/main` Scala files that contain `text`, relative to src/main. */
  private def mainFilesContaining(text: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).contains(text))
      .map(root.relativize(_).toString).toSet
  }

  test("only SwapDirs renames directories: every table swap goes through " +
      "SwapDirs.replace") {
    assert(mainFilesContaining(".rename(") === Set("scala/graft/util/SwapDirs.scala"))
  }

  test("one streaming drain: every maintained table runs through " +
      "Drain.availableNow") {
    Seq(".writeStream", "Trigger.AvailableNow").foreach(text =>
      assert(mainFilesContaining(text) === Set("scala/graft/util/Drain.scala"), text))
  }

  test("one bucket hash: under sinks/, only BucketedSink spells " +
      "pmod(hash(key), n)") {
    assert(mainFilesContaining("pmod(hash(").filter(_.startsWith("scala/graft/sinks/")) ===
      Set("scala/graft/sinks/BucketedSink.scala"))
  }

  test("only Fence releases fenced blocks, and each harness main opens a " +
      "scope per query") {
    // the root release is defined in Fence and delegated to by
    // Dedup.releaseAll, which nothing under src/main calls
    assert(mainFilesContaining("releaseRoot(") ===
      Set("scala/graft/util/Fence.scala", "scala/graft/ext/Dedup.scala"))
    assert(mainFilesContaining("releaseAll(") === Set("scala/graft/ext/Dedup.scala"))
    val scoping = mainFilesContaining("Fence.scope")
    Seq("scala/graft/Bench.scala", "scala/graft/BenchSubset.scala",
      "scala/PlanDump.scala", "scala/graft/Verify.scala")
      .foreach(h => assert(scoping(h), s"$h runs a query outside a Fence scope"))
  }
}
