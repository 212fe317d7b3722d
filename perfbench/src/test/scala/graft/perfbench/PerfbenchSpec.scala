package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: family mapping, the estimators, per-pool
  * attribution, and that each output check rejects a wrong output.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Files.createTempDirectory("pb-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.configure(s)
  }

  override def afterAll(): Unit = spark.stop()

  private val dataDir = java.nio.file.Paths.get("data/sf0.01").toAbsolutePath.toString

  test("every SparkEntry query maps to exactly one known family") {
    val fams = graft.SparkEntry.queries.keys.toSeq.map(Families.of)
    assert(fams.size == graft.SparkEntry.queries.size)
    assert(fams.toSet.subsetOf(Families.all.toSet))
    assert(Families.all.forall(fams.contains), "every family has a query")
    assert(Families.of("sketch_quantiles") == "stats")
    assert(QuerySuite.Slice.map(Families.of).toSet == Families.all.toSet,
      "the timed slice covers every family")
  }

  test("an unknown query prefix fails instead of vanishing") {
    val e = intercept[IllegalArgumentException](Families.of("zz9_new_query"))
    assert(e.getMessage.contains("zz9"))
  }

  test("nearest-rank median and geometric mean") {
    assert(Pct.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Pct.at((1 to 1000).map(_.toDouble), 0.99) == 990.0)
    // two clusters: the geometric mean sits between them and moves with either
    assert(math.abs(Pct.geomean(Seq(4.0, 4.0, 400.0, 400.0)) - 40.0) < 1e-9)
    assert(Pct.geomean(Seq(8.0, 8.0, 400.0, 400.0)) > 40.0)
  }

  test("per-pool job attribution sums to the totals") {
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    try {
      val sc = spark.sparkContext
      def job(): Unit = spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().collect(): Unit
      Seq("serving-17", "serving-18", "fifo", null).foreach { pool =>
        sc.setLocalProperty("spark.scheduler.pool", pool); job()
      }
      sc.setLocalProperty("spark.scheduler.pool", null)
      sc.setLocalProperty(Ledger.Tag, "live-podping"); job()
      sc.setLocalProperty(Ledger.Tag, null)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(ledger.pools.keySet == Set("serving", "fifo", "default", "live-podping"))
      val total = ledger.total.snapshot
      Seq("jobs", "tasks", "run_ms", "cpu_ns", "shuffle_bytes").foreach { k =>
        assert(ledger.pools.values.map(_.snapshot(k)).sum == total(k), k)
      }
      assert(ledger.pool("serving").jobs.get == 2 * ledger.pool("fifo").jobs.get)
      assert(ledger.sum("live", "jobs") == ledger.pool("fifo").jobs.get)
    } finally spark.sparkContext.removeSparkListener(ledger)
  }

  test("query check: a changed value, an error or a missing record is rejected") {
    import spark.implicits._
    val good = Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "s", "x")
    val bad = Seq((1L, "a", 0.5), (2L, "b", 1.6)).toDF("id", "s", "x")
    val reordered = Seq((2L, "b", 1.5), (1L, "a", 0.5)).toDF("id", "s", "x")
    val rec = Map("q" -> Digest.render(Digest.of(good)))
    assert(QuerySuite.wrongDigests(rec, Map("q" -> Digest.render(Digest.of(reordered)))).isEmpty)
    assert(QuerySuite.wrongDigests(rec, Map("q" -> Digest.render(Digest.of(bad)))) == Seq("q"))
    assert(QuerySuite.wrongDigests(rec, Map("q" -> QuerySuite.Error)) == Seq("q"))
    assert(QuerySuite.wrongDigests(rec, Map("new" -> "1:1")) == Seq("new"))
    // a dropped row changes the count
    assert(Digest.of(good.limit(1))._1 == 1L)
  }

  test("recorded digests cover the timed slice") {
    val rec = Json.readStringMap(QuerySuite.digestFile(dataDir))
    assert(QuerySuite.Slice.forall(rec.contains))
  }

  test("ingest check: sinks equal the one-shot transform; a replayed batch is rejected") {
    val work = Files.createTempDirectory("pb-ingest")
    val ctx = Ctx(spark, dataDir, work, 1L, 1.0, 2, new Tracer(false, "t"), None, record = false)
    val last = 29L
    val ops = IngestCatchup.oplog(ctx, last + 1)
    val feeds = IngestCatchup.feeds(ctx, ops, work.resolve("out"), last)
    IngestCatchup.drive(feeds)
    val (checks, fails, rows) = IngestCatchup.check(ctx, ops, feeds, last)
    assert(checks > 3 && fails == 0 && rows.values.forall(_ > 0))
    // the same range written again under a new batch id: double ingest
    feeds.find(_.name == "podping").get.runner.processBatch(ops, 99L)
    val (_, fails2, _) = IngestCatchup.check(ctx, ops, feeds, last)
    assert(fails2 > 0)
    Main.deleteTree(work)
  }
}
