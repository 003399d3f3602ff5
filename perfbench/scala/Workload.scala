package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload gets from the harness. */
final case class Ctx(spark: SparkSession, gen: Gen, tracer: Tracer, work: String) {
  def dir(name: String): String = {
    val d = s"$work/$name"
    new java.io.File(d).mkdirs()
    d
  }
}

/** A closed-loop workload: `generate` writes the seeded inputs,
  * `references` computes what the checks compare against (never on a
  * timed path), `warmup` runs untimed work so lazy set-up is paid before
  * measuring, and each `cycle` is one session / commit / batch, issued
  * only after the previous one returned.
  */
trait Workload {
  def generate(): Unit
  def references(): Unit
  def warmup(): Unit
  def cycle(i: Int): Unit
  /** Cycles in one whole pass of the workload's input mix; a run
    * measures whole rotations only, so every run takes its medians over
    * the same mix.
    */
  def rotation: Int
  /** Cycles of generated input left. */
  def remaining: Int = Int.MaxValue
  /** Checks whose reference is built after the timed loop. */
  def finish(): Unit = ()
}

/** Two workloads run as one: each cycle runs a cycle of both, then
  * probes memory, which both hold across cycles (a table, stores).
  */
final class Both(a: Workload, b: Workload) extends Workload {
  def generate(): Unit = { a.generate(); b.generate() }
  def references(): Unit = { a.references(); b.references() }
  def warmup(): Unit = { a.warmup(); b.warmup() }
  def cycle(i: Int): Unit = { a.cycle(i); b.cycle(i); Mem.probe() }
  def rotation: Int = {
    def gcd(x: Int, y: Int): Int = if (y == 0) x else gcd(y, x % y)
    a.rotation / gcd(a.rotation, b.rotation) * b.rotation
  }
  override def remaining: Int = a.remaining.min(b.remaining)
  override def finish(): Unit = { a.finish(); b.finish() }
}

object Check {
  /** Mark `s` failed (it counts in `failed`) when `ok` is false. */
  def apply(s: Span, ok: Boolean, what: => String): Unit =
    if (!ok) {
      s.ok = false
      System.err.println(s"perfbench: check failed in ${s.name} (unit ${s.unit}): $what")
    }
}

/** The memory the program holds: heap in use after a full collection,
  * plus class metadata. The JIT's code cache is left out, since its size
  * depends on how far compilation got by then. A collection leaves what
  * Spark's cleaner frees only once it sees what the collection dropped
  * (blocks and shuffle state of unreachable datasets), so the probe
  * collects again until the figure stops falling. Workloads probe once a
  * cycle where they hold the most (an open result, a table and stores
  * between commits), outside any op span, so the collections add to no
  * timed call.
  */
object Mem {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private val Slack = 1L << 20
  private val MaxRounds = 6
  private val probes = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var spentNs = 0L
  def reset(): Unit = { probes.clear(); spentNs = 0L }
  /** Every probe's figure since the last reset. */
  def probed: Seq[Long] = probes.toSeq
  /** Wall time the probes took since the last reset. */
  def spentMs: Double = spentNs / 1e6

  private def held(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP || !p.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum
  }

  def probe(): Unit = {
    val t0 = System.nanoTime()
    var prev = Long.MaxValue
    var used = held()
    var rounds = 1
    while (prev - used > Slack && rounds < MaxRounds) {
      Thread.sleep(50)
      prev = used
      used = held()
      rounds += 1
    }
    probes += used
    spentNs += System.nanoTime() - t0
  }
}

object Fs {
  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else f.listFiles.toSeq.filterNot(_.getName.startsWith(".")).map(x => bytesUnder(x.getPath)).sum
  }
  def files(path: String): Int = {
    val f = new java.io.File(path)
    if (!f.exists) 0
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
    else f.listFiles.toSeq.map(x => files(x.getPath)).sum
  }
  def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles.foreach(x => rm(x.getPath))
    f.delete()
  }
}
