package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

/** What one run shares across its phases: the session, the scratch
  * directory, the seeded inputs, the tracer and (traced runs only) the
  * Spark listener, plus the correctness verdicts collected so far.
  */
final class Ctx(val spark: SparkSession, val work: Path, val in: Inputs,
                val seconds: Int, val traced: Boolean) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer
  lazy val log: SparkLog = {
    val l = new SparkLog
    spark.sparkContext.addSparkListener(l)
    l
  }
  /** The session's split size, which no store operation may leave changed. */
  val splitBytes: String = spark.conf.get("spark.sql.files.maxPartitionBytes")

  private val problems = new ConcurrentLinkedQueue[String]()
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems.add(what)
  def wrong: Seq[String] = problems.asScala.toSeq

  def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def dir(name: String): String = work.resolve(name).toString

  def rm(name: String): Unit = {
    val p = work.resolve(name)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }
}

/** One attempted operation, as the closed loop recorded it. */
final case class Rec(kind: String, label: String, startNs: Long, endNs: Long,
                     error: Option[String], attempt: Stats.Attempt) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = error.isEmpty
}

/** Times operations, probes them for leaked caches and a mutated session
  * conf, and runs closed-loop clients against a deadline.
  */
final class Recorder(ctx: Ctx) {
  private val recs = new ConcurrentLinkedQueue[Rec]()
  private val initial = ctx.persisted()

  /** Runs `body` as one attempted operation under job group `label`. */
  def timed[R](kind: String, label: String)(body: => R): Option[R] = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(label, kind, interruptOnCancel = false)
    val before = ctx.persisted()
    val t0 = System.nanoTime()
    val r = Try(body)
    val t1 = System.nanoTime()
    val after = ctx.persisted()
    val confChanged =
      ctx.spark.conf.get("spark.sql.files.maxPartitionBytes") != ctx.splitBytes
    sc.clearJobGroup()
    r.failed.foreach { e =>
      System.err.println(s"[perfbench] $label failed: $e")
    }
    recs.add(Rec(kind, label, t0, t1, r.failed.toOption.map(_.toString),
      Stats.Attempt(t1, t1 - t0, r.isFailure, confChanged, before, after)))
    r.toOption
  }

  def records: Seq[Rec] = recs.asScala.toSeq.sortBy(_.startNs)

  /** Attempted and failed counts; call once the loop is quiet. */
  def accounting(timeoutNs: Long): (Int, Int) = {
    val rs = records.toIndexedSeq
    val leftOver = ctx.persisted() -- initial
    val failed = Stats.failedAttempts(rs.map(_.attempt), timeoutNs, leftOver)
    failed.foreach { i =>
      System.err.println(s"[perfbench] counted as failed: ${rs(i).label}")
    }
    (rs.length, failed.size)
  }
}

object ClosedLoop {
  /** `clients` threads each claim the next op index and run it, back to
    * back, until `seconds` have passed (ops below `minOps` run in any
    * case, so a workload of long ops still gets a median of several).
    * Jobs still running a minute past the deadline are cancelled, so a
    * hung op fails instead of hanging the run. An op that throws past its
    * own timed calls (in its answer checks, say) is a failed check, so it
    * fails the run. Returns the loop's wall.
    */
  def run(ctx: Ctx, clients: Int, seconds: Double, minOps: Int = 1)
         (op: (Int, Int) => Unit): Double =
    drive(clients, seconds, 60.0, () => ctx.spark.sparkContext.cancelAllJobs(),
      (i, e) => ctx.check(false, s"op $i threw outside its timed calls: $e"),
      minOps)(op)

  /** The loop itself: `cancel` runs once `graceS` past the deadline if a
    * client is still busy; `threw` gets every exception an op lets out.
    */
  def drive(clients: Int, seconds: Double, graceS: Double, cancel: () => Unit,
            threw: (Int, Throwable) => Unit, minOps: Int = 1)
           (op: (Int, Int) => Unit): Double = {
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < minOps || System.nanoTime() < deadline) {
          try op(c, i)
          catch {
            case NonFatal(e) =>
              e.printStackTrace()
              threw(i, e)
          }
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    val grace = deadline + (graceS * 1e9).toLong
    threads.foreach { t =>
      t.join(math.max(1L, (grace - System.nanoTime()) / 1000000L))
    }
    if (threads.exists(_.isAlive)) {
      cancel()
      threads.foreach(_.join())
    }
    (System.nanoTime() - t0) / 1e9
  }
}

object Jvm {
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM: the process's peak resident set, driver and executors alike
    * (Spark runs in this JVM).
    */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap still in use after full collections: what the process holds
    * once the workload is done (Spark's state and whatever the program
    * keeps). Unlike the peak RSS it does not follow how far G1 chose to
    * grow the heap. Spark's ContextCleaner frees shuffle and broadcast
    * state only once a collection has found its owners unreachable, so
    * this collects a few times, pausing in between, and keeps the least.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      val used = mem.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(300)
      used
    }.min
  }
}

/** Set-up timing. `setup_s` is session start + the median wall of the
  * repeated part (inputs and stores, made from scratch each time) + the
  * one-off part (warm-up, check store).
  */
object Setup {
  val Reps = 3

  /** Runs `rep` `Reps` times and returns the median wall in seconds; the
    * last repetition's state is kept.
    */
  def repeated(rep: Int => Unit): Double = {
    val walls = ArrayBuffer.empty[Double]
    (0 until Reps).foreach { r =>
      val t0 = System.nanoTime()
      rep(r)
      walls += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-up walls (s): ${walls.mkString(", ")}")
    Stats.median(walls.toSeq)
  }

  def once(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[perfbench] one-off set-up wall (s): $s")
    s
  }
}
