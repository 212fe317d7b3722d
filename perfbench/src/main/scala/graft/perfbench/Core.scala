package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Query family of every `SparkEntry.queries` name, by name prefix. A name
  * whose prefix is not listed fails loudly, so a new query can never
  * vanish from the per-family ledger.
  */
object Families {
  val all: Seq[String] =
    Seq("dedup", "sim", "text", "sample", "stats", "emb", "multimodal", "plug", "rel")

  private val byPrefix: Map[String, String] = Map(
    "dedup" -> "dedup", "sim" -> "sim", "text" -> "text", "pack" -> "text",
    "pipeline" -> "text", "sample" -> "sample", "stats" -> "stats",
    "sketch" -> "stats", "emb" -> "emb", "multimodal" -> "multimodal",
    "plug" -> "plug") ++
    // relational / streaming-SQL shapes of the reference surface
    Seq("s1", "s2", "a1", "a2", "a3", "p2", "f3", "f6", "w1", "w2", "o5", "u1",
      "q1", "q3", "q5", "q17", "j1", "j2", "j4", "j5", "j6", "j7", "j8", "x1",
      "x2", "t8", "t10", "scalar", "seq").map(_ -> "rel")

  def of(query: String): String = {
    val prefix = query.takeWhile(_ != '_')
    byPrefix.getOrElse(prefix, throw new IllegalArgumentException(
      s"query '$query': no family for prefix '$prefix'"))
  }
}

/** Percentiles by nearest rank (the rule of perfbench/run.py), and the
  * geometric mean.
  */
object Pct {
  /** 1-based nearest rank of `p` among `n` (the epsilon keeps 0.99 * 1000
    * at rank 990 despite binary rounding).
    */
  def rank(n: Int, p: Double): Int = math.min(n, math.max(1, math.ceil(p * n - 1e-9).toInt))

  def at(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    samples.sorted.apply(rank(samples.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = at(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
  }
}

/** Order-insensitive output digest: row count plus the sum of a per-row
  * hash. Doubles are rounded to 6 decimals first, so a last-bit wobble in
  * a parallel floating-point sum does not read as a wrong answer.
  */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`").cast(DoubleType), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else hash(cols.toIndexedSeq: _*).cast("long")
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def render(d: (Long, Long)): String = s"${d._1}:${d._2}"
}

/** Spark task metrics summed per scheduler pool. Serving handlers put
  * their jobs in pools `serving-<thread>`; those fold into one `serving`
  * pool, and jobs with no pool count as `default`. A job whose thread set
  * the local property `perfbench.tag` (the benchmark's feeds do) is
  * counted under that tag instead.
  */
final class Ledger extends SparkListener {
  final class Acc {
    val jobs, tasks, runMs, cpuNs, gcMs, deserMs, schedMs, shuffleBytes, spillBytes =
      new AtomicLong
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobs.get, "tasks" -> tasks.get, "run_ms" -> runMs.get,
      "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get, "deser_ms" -> deserMs.get,
      "sched_ms" -> schedMs.get, "shuffle_bytes" -> shuffleBytes.get,
      "spill_bytes" -> spillBytes.get)
  }

  val total = new Acc
  val pools = TrieMap.empty[String, Acc]
  private val stagePool = TrieMap.empty[Int, String]

  def pool(name: String): Acc = pools.getOrElseUpdate(name, new Acc)

  private def poolOf(props: java.util.Properties): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    prop(Ledger.Tag).getOrElse(prop("spark.scheduler.pool") match {
      case None => "default"
      case Some(p) if p.startsWith("serving") => "serving"
      case Some(p) => p
    })
  }

  /** Sum of one counter over the pools whose name starts with `prefix`. */
  def sum(prefix: String, key: String): Long =
    pools.filter(_._1.startsWith(prefix)).values.map(_.snapshot(key)).sum

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = poolOf(j.properties)
    j.stageIds.foreach(stagePool.put(_, p))
    total.jobs.incrementAndGet(); pool(p).jobs.incrementAndGet(): Unit
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val p = stagePool.getOrElse(t.stageId, "default")
    Seq(total, pool(p)).foreach { a =>
      a.tasks.incrementAndGet()
      Option(t.taskMetrics).foreach { m =>
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.deserMs.addAndGet(m.executorDeserializeTime)
        a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(t.taskInfo).foreach { i =>
          // scheduler delay: task wall minus the parts the executor reports
          val d = i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime
          a.schedMs.addAndGet(math.max(0L, d))
        }
      }
    }
  }
}

object Ledger {
  val Tag = "perfbench.tag"
}

object Tracer {
  /** A layer call: name, start, end, the span that caused it, and for a
    * request-scoped call its id.
    */
  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                        endNs: Long, req: String)
}

/** In-memory spans, written when the run ends. Disabled tracers run the
  * body and record nothing.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def apply[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), req))
        current.set(parent)
      }
    }

  def count: Int = spans.size

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.forEach { s =>
      sb.append(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},"req":"${s.req}"}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Flat JSON string maps (recorded digests), via the Jackson Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  def readStringMap(path: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else {
      val node = mapper.readTree(path.toFile)
      val it = node.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }

  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"  ${graft.serving.JsonOut.str(k)}: ${graft.serving.JsonOut.str(v)}"
    }.mkString("{\n", ",\n", "\n}\n")
}
