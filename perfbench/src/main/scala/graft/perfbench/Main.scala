package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload hands back: ops attempted and failed (a failed op is a
  * thrown error or a wrong output), and its metrics by name.
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double])

/** Everything a workload needs. `ledger` is registered only in traced
  * runs, so untraced runs pay for no listener.
  */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: Path,
                     seed: Long, seconds: Double, cores: Int,
                     trace: Tracer, ledger: Option[Ledger], record: Boolean) {
  def traced: Boolean = trace.enabled

  /** The launcher's next command line. */
  def nextLine(): String = Main.stdinLines.take()

  /** Tell the launcher set-up is over; the timed part starts now. */
  def setupDone(extra: String = ""): Unit = {
    println(s"SETUP_DONE$extra"); Console.out.flush()
  }

  def drain(): Unit =
    if (traced) org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
}

/** JVM side of the benchmark; `perfbench/run.py` launches it and owns the
  * result line. Usage:
  * {{{
  * Main --workload <query_suite|serve_live|catchup> --seed <n>
  *      --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *      [--cores <n>] [--record 1]
  * }}}
  * Protocol on stdout: `SETUP_DONE` when set-up ends, then one
  * `RESULT {json}` line. serve_live adds its port to `SETUP_DONE` and reads
  * `GO <epoch_ms>` / `STOP` from stdin (see [[ServeLive]]). The JVM halts
  * when stdin closes.
  */
object Main {
  private[perfbench] val stdinLines = new java.util.concurrent.LinkedBlockingQueue[String]()

  /** Reads the launcher's commands; stdin closing means the launcher is
    * gone, and then this JVM must not outlive it.
    */
  private def watchStdin(): Unit = {
    val t = new Thread(() => {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      Iterator.continually(in.readLine()).takeWhile(_ != null).foreach(stdinLines.put)
      System.err.println("[perfbench] launcher gone, exiting")
      Runtime.getRuntime.halt(3)
    }, "perfbench-stdin")
    t.setDaemon(true)
    t.start()
  }

  def main(args: Array[String]): Unit = {
    watchStdin()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = opts.get("cores").map(_.toInt).getOrElse(4)
    val workDir = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(workDir)
    val traced = opts.get("trace").contains("1")
    val spark = session(cores, workDir, fair = workload == "serve_live")
    val ledger = if (traced) {
      val l = new Ledger; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val runId = s"$workload-${opts("seed")}-${System.currentTimeMillis()}"
    val ctx = Ctx(spark, Paths.get(opts("data")).toAbsolutePath.toString, workDir,
      opts("seed").toLong, opts("seconds").toDouble, cores, new Tracer(traced, runId),
      ledger, opts.get("record").contains("1"))
    val out = workload match {
      case "query_suite" => QuerySuite.run(ctx)
      case "catchup" => IngestCatchup.run(ctx)
      case "serve_live" => ServeLive.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (traced) ctx.trace.write(workDir.resolve("spans.jsonl"))
    val metrics = out.metrics + ("trace.spans" -> ctx.trace.count.toDouble)
    println("RESULT " + graft.serving.JsonOut.obj(Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, v) => k -> v })))
    Console.out.flush()
    spark.stop()
  }

  /** Heap in use after a forced GC: the retained caches and state. A
    * workload calls it at the end of its timed part, while its serving
    * and feed objects are still reachable.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  def session(cores: Int, workDir: Path, fair: Boolean): SparkSession = {
    val local = workDir.resolve("spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    if (fair) b.config("spark.scheduler.mode", "FAIR")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.configure(spark)
  }

  /** Run each body on its own thread; rethrow the first failure. */
  def inThreads[T](bodies: Seq[(String, () => T)]): Seq[T] = {
    val results = bodies.map { case (name, body) =>
      val box = new java.util.concurrent.CompletableFuture[T]()
      val th = new Thread(() => try box.complete(body()) catch {
        case e: Throwable => box.completeExceptionally(e)
      }, s"perfbench-$name")
      th.start()
      (name, th, box)
    }
    results.map { case (name, th, box) =>
      th.join()
      try box.get() catch { case e: java.util.concurrent.ExecutionException =>
        throw new IllegalStateException(s"$name failed", e.getCause)
      }
    }
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Recursive (files, bytes) under `dir`. */
  def du(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
}
