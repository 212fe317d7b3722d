package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** `query_suite`: a fixed slice of the `SparkEntry.queries` suite, run by
  * one closed-loop client in a seed-shuffled order.
  *
  * Each execution builds the query's DataFrame and computes its output
  * digest (row count plus an order-insensitive hash over every column),
  * which both materializes every output column and checks the answer
  * against the recorded digest. Set-up runs the slice once cold (JIT,
  * codegen, the derived state it builds on first use); the timed part
  * then runs whole passes until `seconds` have passed (at least four).
  */
object QuerySuite {

  /** The ROADMAP perf candidates in the slice, reported one by one in
    * traced runs. (The other four need ANN-index or pair-set builds that
    * cost more cold set-up than a run may take.)
    */
  val Candidates: Seq[String] = Seq("dedup_span_removal", "sample_importance_resample")

  /** The timed slice: one query of every family (two relational ones).
    * The whole suite needs over three minutes of cold set-up per run at
    * sf0.01, more than one benchmark run may take.
    */
  val Slice: Seq[String] = Seq(
    "dedup_span_removal", "sim_bruteforce_topk", "sample_importance_resample",
    "text_tfidf_top_terms", "sketch_quantiles", "emb_product_quantize",
    "multimodal_dedup_binary", "plug_podping_counts", "q1_pricing_summary",
    "j7_asof_join")

  val MinPasses = 4
  val Error = "error"

  /** Queries whose digest is missing, an error, or not the recorded one. */
  def wrongDigests(recorded: Map[String, String], got: Map[String, String]): Seq[String] =
    got.toSeq.sortBy(_._1).collect {
      case (n, d) if d == Error || !recorded.get(n).contains(d) => n
    }

  def digestFile(dataDir: String): java.nio.file.Path =
    Paths.get(dataDir).getParent.getParent.resolve("digests")
      .resolve(s"${Paths.get(dataDir).getFileName}.json")

  private final case class Run(name: String, family: String, wallS: Double,
                               planS: Double, ledger: Map[String, Long])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    SparkEntry.queries.keys.foreach(Families.of) // an unknown prefix fails here
    val queries = Slice.map(n => n -> SparkEntry.queries(n))
    val recorded = Json.readStringMap(digestFile(ctx.dataDir))
    var failed = 0L

    /** Build and run one query; its output digest, or Error. */
    def execute(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (String, Double) = {
      val q0 = System.nanoTime()
      var planS = 0.0
      val d = try {
        val df = ctx.trace("SparkEntry.queries", name)(fn(spark, ctx.dataDir))
        planS = Main.elapsedS(q0)
        Digest.render(ctx.trace("operators+functions", name)(Digest.of(df)))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Error
      }
      graft.core.CacheScope.release()
      (d, planS)
    }

    // ---- set-up: one cold pass (JIT, codegen, derived state built on first use)
    val cold = queries.map { case (name, fn) => name -> execute(name, fn)._1 }.toMap
    if (ctx.record) {
      Files.createDirectories(digestFile(ctx.dataDir).getParent)
      Files.writeString(digestFile(ctx.dataDir), Json.obj(recorded ++ cold))
    }
    val expected = if (ctx.record) cold else recorded
    def check(got: Map[String, String]): Unit = {
      val wrong = wrongDigests(expected, got)
      wrong.foreach(n =>
        System.err.println(s"[perfbench] $n: digest ${got(n)}, recorded ${expected.get(n)}"))
      failed += wrong.size
    }
    check(cold)
    ctx.setupDone()

    // ---- timed passes: every execution is checked against the record
    val rng = new scala.util.Random(ctx.seed)
    val ledger = ctx.ledger.map(_.total)
    val passes = Seq.newBuilder[Seq[Run]]
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinPasses || Main.elapsedS(t0) < ctx.seconds) {
      val runs = rng.shuffle(queries).map { case (name, fn) =>
        ctx.drain()
        val l0 = ledger.map(_.snapshot).getOrElse(Map.empty)
        val q0 = System.nanoTime()
        val (d, planS) = execute(name, fn)
        val wall = Main.elapsedS(q0)
        ctx.drain()
        val l1 = ledger.map(_.snapshot).getOrElse(Map.empty)
        (name -> d, Run(name, Families.of(name), wall, planS,
          l1.map { case (k, v) => k -> (v - l0(k)) }))
      }
      check(runs.map(_._1).toMap)
      passes += runs.map(_._2)
      n += 1
    }
    val all = passes.result()
    // each query's median wall: robust to the odd slow execution (a GC
    // pause, a recompile) and to where the shuffled pass put the query
    val medians = all.flatten.groupBy(_.name).values
      .map(rs => Pct.median(rs.map(_.wallS))).toSeq
    val base = Map(
      "work_s" -> medians.sum,
      // the queries differ in cost up to fivefold, so a pooled median would
      // land on whichever query sits in the middle; every query adds its
      // ratio to the geometric mean
      "latency_ms" -> Pct.geomean(medians.map(_ * 1000)),
      "heap_live_mb" -> Main.liveHeapMb())
    val attempted = queries.size.toLong * (1 + all.size)
    if (!ctx.traced) return Outcome(attempted, failed, base)

    // ---- per-layer ledger: per-pass averages
    val np = all.size.toDouble
    val runs = all.flatten
    def sumL(rs: Seq[Run], k: String): Double = rs.map(_.ledger.getOrElse(k, 0L)).sum.toDouble
    val perFamily = Families.all.flatMap { f =>
      val rs = runs.filter(_.family == f)
      Seq(
        s"suite.$f.wall_s" -> rs.map(_.wallS).sum / np,
        s"suite.$f.plan_s" -> rs.map(_.planS).sum / np,
        s"suite.$f.tasks" -> sumL(rs, "tasks") / np,
        s"suite.$f.task_s" -> sumL(rs, "run_ms") / 1000 / np,
        s"suite.$f.shuffle_mb" -> sumL(rs, "shuffle_bytes") / 1048576 / np)
    }
    val passWall = runs.map(_.wallS).sum / np
    val suite = Seq(
      "suite.jobs" -> sumL(runs, "jobs") / np,
      "suite.tasks" -> sumL(runs, "tasks") / np,
      "suite.cpu_s" -> sumL(runs, "cpu_ns") / 1e9 / np,
      "suite.gc_s" -> sumL(runs, "gc_ms") / 1000 / np,
      "suite.deser_s" -> sumL(runs, "deser_ms") / 1000 / np,
      "suite.sched_delay_s" -> sumL(runs, "sched_ms") / 1000 / np,
      "suite.spill_mb" -> sumL(runs, "spill_bytes") / 1048576 / np,
      "suite.idle_core_s" -> (ctx.cores * passWall - sumL(runs, "run_ms") / 1000 / np))
    val candidates = Candidates.map(q =>
      s"q.$q.task_s" -> sumL(runs.filter(_.name == q), "run_ms") / 1000 / np)
    Outcome(attempted, failed, base ++ perFamily ++ suite ++ candidates)
  }
}
