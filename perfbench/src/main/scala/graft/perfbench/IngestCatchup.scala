package graft.perfbench

import java.nio.file.Path

import graft.plugs.{HiveEngine, Plug, Podping, Polls}
import graft.sources.OpLogTail
import graft.streaming.{PlugRunner, PlugState, PollsStreaming}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A plug whose `transform` is timed as the `plugs` layer. */
final class TracedPlug(impl: Plug, trace: Tracer) extends Plug {
  def name: String = impl.name
  def startBlock: Int = impl.startBlock
  def opTypeIds: Set[Int] = impl.opTypeIds
  def filter(ops: DataFrame): DataFrame = impl.filter(ops)
  def transform(ops: DataFrame): Map[String, DataFrame] =
    trace("Plug.transform", impl.name)(impl.transform(ops))
}

/** One micro-batch: its range, wall (cursor read to cursor commit), the
  * cursor-read and process parts, and its commit time.
  */
final case class Batch(first: Long, last: Long, wallMs: Double, cursorMs: Double,
                       processMs: Double, endNs: Long)

/** One plug's feed: an `OpLogTail` over the persisted op log into a
  * `PlugRunner`; its Spark jobs carry the ledger tag `tag`.
  */
final class Feed(ctx: Ctx, plug: Plug, val outDir: Path, ops: DataFrame,
                 head: () => Long, startAfter: Long, tag: String) {
  val runner: PlugRunner = plug.name match {
    case "polls" => new PlugRunner(new TracedPlug(plug, ctx.trace), outDir.toString,
      Map("content" -> (PollsStreaming.mergeContent _)))
    case _ => new PlugRunner(new TracedPlug(plug, ctx.trace), outDir.toString)
  }
  val tail = new OpLogTail(ctx.spark, outDir.resolve(s"_ckpt_${plug.name}").toString,
    head, (a, b) => ops.filter(col("block_num").between(a, b)), step = 100L,
    startAfterBlock = startAfter)

  def name: String = plug.name
  private var nextId = 0L

  /** One micro-batch, or None when caught up. */
  def step(): Option[Batch] = {
    ctx.spark.sparkContext.setLocalProperty(Ledger.Tag, tag)
    val t0 = System.nanoTime()
    // the cursor read is timed on its own only when tracing (it lists the
    // checkpoint dir, which runOnce does again)
    val cursorMs = if (ctx.traced) {
      ctx.trace("OpLogTail.nextRange", plug.name)(tail.nextRange()); Main.elapsedS(t0) * 1000
    } else 0.0
    val t1 = System.nanoTime()
    var processMs = 0.0
    val r = ctx.trace("OpLogTail.runOnce", plug.name)(tail.runOnce { (df, _, _) =>
      val p0 = System.nanoTime()
      ctx.trace("PlugRunner.processBatch", plug.name)(runner.processBatch(df, nextId))
      processMs = Main.elapsedS(p0) * 1000
    })
    val end = System.nanoTime()
    r.map { case (a, b) =>
      nextId += 1
      Batch(a, b, (end - t1) / 1e6, cursorMs, processMs, end)
    }
  }
}

/** Catch-up ingest, the reference's massive-sync mode: a fixed prefix of
  * the op log (`EventOpLog.fromEvents`, ten ops per block) is persisted in
  * set-up and tailed in 100-block steps by one feed per plug (podping,
  * polls, hive_engine), one thread each. The first step of every feed is
  * set-up (JIT, codegen); the rest of the prefix is timed. Traced
  * `query_suite` runs this at `local[1]` as the single-core baseline.
  */
object IngestCatchup {
  val PrefixBlocks = 200L
  val Plugs: Seq[Plug] = Seq(Podping, Polls, HiveEngine)

  def oplog(ctx: Ctx, blocks: Long): DataFrame = {
    val ops = graft.core.EventOpLog
      .fromEvents(graft.core.Tables.events(ctx.spark, ctx.dataDir))
      .filter(col("block_num") < blocks)
      .persist()
    require(ops.count() > 0, "empty op-log prefix")
    ops
  }

  def feeds(ctx: Ctx, ops: DataFrame, dir: Path, lastBlock: Long): Seq[Feed] =
    Plugs.map(p => new Feed(ctx, p, dir, ops, () => lastBlock, -1L, s"ingest-${p.name}"))

  /** Step every feed (one thread each) `steps` times or until caught up. */
  def drive(feeds: Seq[Feed], steps: Int = Int.MaxValue): Map[String, Seq[Batch]] =
    Main.inThreads(feeds.map(f => f.name -> (() =>
      f.name -> Iterator.continually(f.step()).take(steps).takeWhile(_.nonEmpty).flatten.toList
    ))).toMap

  /** Each plug's sinks equal a one-shot `Plug.transform` over the same
    * range (count + hash) and each cursor is the last block. Returns
    * (checks, failures, rows out per plug).
    */
  def check(ctx: Ctx, ops: DataFrame, feeds: Seq[Feed], lastBlock: Long)
      : (Long, Long, Map[String, Long]) = {
    var checks = 0L; var fails = 0L
    val rows = feeds.map { f =>
      var out = 0L
      Plugs.find(_.name == f.name).get.transform(ops).foreach { case (t, oneShot) =>
        val got = f.runner.table(ctx.spark, t).select(oneShot.columns.map(c => col(s"`$c`")): _*)
        val (want, have) = (Digest.of(oneShot), Digest.of(got))
        checks += 1; out += have._1
        if (want != have) {
          fails += 1
          System.err.println(s"[perfbench] ${f.name}.$t: sink $have, one-shot $want")
        }
      }
      val cursor = f.tail.cursor
      val state = PlugState.latest(ctx.spark, f.outDir.toString, f.name)
      checks += 1
      if (cursor != lastBlock || !state.exists(_._2 == lastBlock)) {
        fails += 1
        System.err.println(s"[perfbench] ${f.name}: cursor $cursor, state $state, want $lastBlock")
      }
      f.name -> out
    }.toMap
    (checks, fails, rows)
  }

  def run(ctx: Ctx): Outcome = {
    val last = PrefixBlocks - 1
    val ops = oplog(ctx, PrefixBlocks)
    val fs = feeds(ctx, ops, ctx.workDir.resolve("catchup"), last)
    val warm = drive(fs, steps = 1)
    val warmBlocks = warm.values.flatten.map(b => b.last - b.first + 1).max
    val all = ops.count().toDouble
    val useful = Plugs.map(p => p.name -> p.filter(ops).count() / all).toMap
    ctx.setupDone()

    val l0 = ctx.ledger.map(l => Plugs.map(p => p.name -> l.pool(s"ingest-${p.name}").snapshot).toMap)
    val t0 = System.nanoTime()
    val batches = drive(fs)
    val wallS = Main.elapsedS(t0)
    ctx.drain()
    val l1 = ctx.ledger.map(l => Plugs.map(p => p.name -> l.pool(s"ingest-${p.name}").snapshot).toMap)
    val (checks, fails, rowsOut) = check(ctx, ops, fs, last)
    val perPlug = fs.flatMap { f =>
      val bs = batches(f.name)
      val d = l1.map(_(f.name).map { case (k, v) => k -> (v - l0.get(f.name)(k)).toDouble })
        .getOrElse(Map.empty[String, Double]).withDefaultValue(0.0)
      val (files, bytes) = Main.du(f.outDir.resolve(f.name))
      Seq(
        s"ingest.${f.name}.batch_ms_p50" -> Pct.median(bs.map(_.wallMs)),
        s"ingest.${f.name}.busy_s" -> bs.map(_.wallMs).sum / 1000,
        s"ingest.${f.name}.jobs_per_batch" -> d("jobs") / bs.size,
        s"ingest.${f.name}.task_s" -> d("run_ms") / 1000,
        s"ingest.${f.name}.mb_written" -> bytes / 1048576.0,
        s"ingest.${f.name}.files" -> files.toDouble,
        s"ingest.${f.name}.rows_out" -> rowsOut(f.name).toDouble,
        s"ingest.${f.name}.useful_ratio" -> useful(f.name))
    }
    val taskS = l1.map(_.values.map(_("run_ms")).sum).getOrElse(0L) -
      l0.map(_.values.map(_("run_ms")).sum).getOrElse(0L)
    Outcome(batches.values.map(_.size).sum + checks, fails, perPlug.toMap ++ Map(
      "ingest.one_core_blocks_per_s" -> (PrefixBlocks - warmBlocks) / wallS,
      "ingest.idle_core_s" -> (ctx.cores * wallS - taskS / 1000.0)))
  }
}
