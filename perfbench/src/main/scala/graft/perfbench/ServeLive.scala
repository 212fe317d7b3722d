package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

import graft.serving.HttpApi
import graft.streaming.StreamHealth

/** `serve_live`, JVM side: `HttpApi` over `SparkEntry.servingTables`, in
  * one JVM with a live feed of the plugs the reference's shipped defs
  * enable (podping, hive_engine), booted through `PlugDefs.boot`. `/api`
  * reports the live `PlugState` through `HttpApi.statusFrom`.
  *
  * The request generator and the `/api` poller run in the launcher
  * process (perfbench/run.py). Protocol: after set-up this prints
  * `SETUP_DONE <port> <FirstLive> <BlocksPerS>` and waits for
  * `GO <epoch_ms>`; from then on block `FirstLive + i` is released at
  * `epoch_ms + (i + 1) / BlocksPerS`. On `STOP` it stops the feeds and
  * reports.
  */
object ServeLive {
  /** Three times the chain's own rate of one block every three seconds. */
  val BlocksPerS = 1.0
  /** Blocks [0, FirstLive) are history, ingested in set-up. */
  val FirstLive = 10L

  /** The reference's shipped plug definitions (podping and hive_engine
    * enabled, polls disabled). Start blocks are left out of the tail: the
    * op log here starts at block 0.
    */
  val Defs: Map[String, String] = Map(
    "podping" -> """{"name": "podping", "props": {"enabled": true, "schema": "podping", "context": "podping", "start_block": 53690004}, "ops": {"18": "podping.process_cjop"}}""",
    "polls" -> """{"name": "polls", "props": {"enabled": false, "schema": "polls", "context": "polls", "start_block": 59594882}, "ops": {"18": "polls.process_cjop"}}""",
    "hive_engine" -> """{"name": "hive_engine", "props": {"enabled": true, "schema": "hive_engine", "context": "hive_engine", "start_block": 60100000}, "ops": {"18": "hive_engine.process_cjop"}}""")

  /** Warm-up paths, one per route of the reference mix (the hot keys of
    * perfbench/run.py).
    */
  val WarmPaths: Seq[String] = Seq(
    "/api", "/api/podping/history/counts", "/api/podping/feeds/latest?url=url_1",
    "/api/polls/active", "/api/polls/owner_1",
    "/api/polls/ops?block_range=%5B0,2000000%5D&op_type=create")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s0 = System.nanoTime()
    def lap(what: String): Unit =
      System.err.println(f"[perfbench] set-up: $what at ${Main.elapsedS(s0)}%.1f s")
    val tables = graft.SparkEntry.servingTables(spark, ctx.dataDir)
    tables.values.foreach(_.count())
    lap("serving tables")
    val defsDir = ctx.workDir.resolve("plugdefs")
    Defs.foreach { case (n, json) =>
      java.nio.file.Files.createDirectories(defsDir.resolve(n))
      java.nio.file.Files.writeString(defsDir.resolve(n).resolve("defs.json"), json)
    }
    val plugs = graft.plugs.PlugDefs.boot(defsDir.toFile)
    require(plugs.map(_.name).sorted == Seq("hive_engine", "podping"),
      s"defs boot gave ${plugs.map(_.name)}")
    val ops = IngestCatchup.oplog(ctx, Long.MaxValue)
    val maxBlock = ops.agg(org.apache.spark.sql.functions.max("block_num")).head().getInt(0).toLong

    // history: blocks [0, FirstLive) through the same feeds (also the JIT warm-up)
    val out = ctx.workDir.resolve("live")
    Main.deleteTree(out)
    @volatile var goMs = Long.MaxValue
    def head(): Long = {
      val g = goMs
      if (System.currentTimeMillis() < g) FirstLive - 1
      else math.min(maxBlock,
        FirstLive - 1 + ((System.currentTimeMillis() - g) * BlocksPerS / 1000).toLong)
    }
    val feeds = plugs.map(p => new Feed(ctx, p, out, ops, () => head(), -1L, s"live-${p.name}"))
    lap("op log")
    Main.inThreads(feeds.map(f => f.name -> (() => while (f.step().nonEmpty) ())))
    lap("history")

    val health = new StreamHealth()
    val api = new HttpApi(tables,
      now = () => java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      statusFn = HttpApi.statusFrom(health, spark, out.toString, plugs.map(_.name)))
    val port = api.start("127.0.0.1", 0, nThreads = 8)
    val client = HttpClient.newHttpClient()
    WarmPaths.foreach { p =>
      val code = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p"))
        .GET().build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      require(code == 200, s"warm-up $p answered $code")
    }
    api.awaitPointIndexes()
    lap("api warm")
    val c0 = counters(api)
    val l0 = ctx.ledger.map(snapshot)
    ctx.setupDone(s" $port $FirstLive $BlocksPerS")

    val go = ctx.nextLine()
    require(go.startsWith("GO "), s"expected GO, got '$go'")
    goMs = go.stripPrefix("GO ").trim.toLong

    @volatile var stop = false
    val backlogMax = new AtomicLong
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(String, Batch)]()
    val errors = new AtomicLong
    val threads = feeds.map { f =>
      val th = new Thread(() => {
        try while (!stop) {
          f.step() match {
            case Some(b) => batches.add(f.name -> b)
            case None => Thread.sleep(10)
          }
          backlogMax.accumulateAndGet(head() - f.tail.cursor, math.max)
        } catch { case e: Throwable =>
          errors.incrementAndGet(); System.err.println(s"[perfbench] live feed died: $e")
        }
      }, "perfbench-live")
      th.start(); th
    }
    val stopLine = ctx.nextLine()
    require(stopLine.startsWith("STOP"), s"expected STOP, got '$stopLine'")
    stop = true
    threads.foreach(_.join())
    ctx.drain()
    val c1 = counters(api)
    val l1 = ctx.ledger.map(snapshot)
    // the API's caches and indexes and the feeds' state are still reachable
    val heapMb = Main.liveHeapMb()
    api.stop()

    import scala.jdk.CollectionConverters._
    val bs = batches.asScala.toSeq.map(_._2)
    val d = c1.map { case (k, v) => k -> (v - c0(k)).toDouble }
    val gated = math.max(1.0, d("gated"))
    val base = Map(
      "heap_live_mb" -> heapMb,
      "live.batches" -> bs.size.toDouble,
      "live.backlog_max_blocks" -> backlogMax.get.toDouble,
      "live.feed_errors" -> errors.get.toDouble)
    if (!ctx.traced) return Outcome(0, errors.get, base)
    val dl = l1.get.map { case (k, v) => k -> (v - l0.get(k)).toDouble }
    val requests = math.max(1.0, d("requests"))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Pct.median(xs)
    val perPlug = feeds.flatMap { f =>
      val mine = batches.asScala.toSeq.collect { case (n, b) if n == f.name => b }
      Seq(
        s"live.${f.name}.batch_ms_p50" -> med(mine.map(_.wallMs)),
        s"live.${f.name}.jobs_per_batch" -> dl(s"live-${f.name}.jobs") / math.max(1, mine.size),
        s"live.${f.name}.task_s" -> dl(s"live-${f.name}.run_ms") / 1000)
    }
    Outcome(0, errors.get, base ++ perPlug ++ Map(
      "serve.gate_wait_ms_avg" -> d("queue_ns") / 1e6 / gated,
      "serve.exec_ms_avg" -> d("exec_ns") / 1e6 / gated,
      "serve.shed" -> d("shed"),
      "serve.result_hit_ratio" -> d("result_hits") / requests,
      "serve.coalesced_ratio" -> d("coalesced") / requests,
      "serve.plan_hit_ratio" -> d("plan_hits") / gated,
      "serve.index_hits" -> d("index_hits"),
      "serve.index_builds" -> d("index_builds"),
      "serve.jobs" -> dl("serving.jobs"),
      "serve.task_s" -> dl("serving.run_ms") / 1000,
      "live.jobs" -> dl("live.jobs"),
      "live.task_s" -> dl("live.run_ms") / 1000,
      "live.blocks_per_batch" ->
        (if (bs.isEmpty) 0.0 else bs.map(b => b.last - b.first + 1).sum.toDouble / bs.size),
      "live.batch_ms_p50" -> med(bs.map(_.wallMs)),
      "tail.cursor_ms_p50" -> med(bs.map(_.cursorMs)),
      "tail.commit_ms_p50" -> med(bs.map(b => b.wallMs - b.processMs))))
  }

  /** Ledger counters of the serving pool, all live feeds and each feed. */
  private def snapshot(l: Ledger): Map[String, Long] =
    (Seq("serving", "live") ++ Defs.keys.map(n => s"live-$n")).flatMap(p =>
      Seq("jobs", "run_ms").map(k => s"$p.$k" -> l.sum(p, k))).toMap

  /** The counters `HttpApi` keeps, as one snapshot. `requests` counts the
    * requests that reached the result cache or the gate (everything but
    * `/api`).
    */
  private def counters(api: HttpApi): Map[String, Long] = {
    val (hits, builds) = api.pointIndexStats
    Map(
      "queue_ns" -> api.queueNanos.get, "exec_ns" -> api.execNanos.get,
      "gated" -> api.gatedCount.get, "shed" -> api.shedCount.get,
      "result_hits" -> api.resultCacheHits.get, "coalesced" -> api.coalescedHits.get,
      "plan_hits" -> api.planCacheHits.get, "index_hits" -> hits, "index_builds" -> builds,
      "requests" -> (api.gatedCount.get + api.resultCacheHits.get + api.coalescedHits.get +
        api.shedCount.get))
  }
}
