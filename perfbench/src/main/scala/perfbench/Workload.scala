package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Wall seconds and CPU seconds of one stretch of work. CPU time is the
  * whole JVM's: every thread, so the driver's planning, the task
  * threads, the collector and the JIT compiler. Unlike wall time it
  * leaves out the time the hypervisor gives other guests on a shared
  * host (steal). */
final case class Timing(wallS: Double, cpuS: Double)

/** What one op reports to the measurement loop. `time` covers only the
  * calls into the program; the correctness check and the byte
  * accounting run after the clock stops. `read` is the mean time of a
  * read of what the op published, repeated after the op. */
final case class OpResult(
    time: Timing,
    read: Timing,
    inputRows: Long,
    inputBytes: Long,
    bytesWritten: Long,
    ok: Boolean,
    why: String = "")

/** One benchmark workload: seeded inputs, a set-up round, the op the
  * closed loop repeats, and the space measurement taken at the end. */
trait Workload {
  /** Writes the seeded inputs and keeps what the checks need. */
  def generate(spark: SparkSession): Unit
  /** Properties of the generated inputs, reported with the result. */
  def properties: Seq[(String, Double)]
  /** Set-up work after a fresh session start, before any op. */
  def setup(spark: SparkSession, round: Int): Unit
  /** One untimed op on the final session, so the timed phase starts with
    * classes loaded, generated code compiled and the JIT warm. */
  def warmUp(spark: SparkSession): Unit
  /** Op `i` of the timed phase; throws or returns `ok = false` on failure. */
  def op(spark: SparkSession, i: Int, tr: Tracer): OpResult
  /** Disk bytes of the published result per byte of a fresh compacted
    * write of its content, measured after the timed phase. */
  def spaceAmp(spark: SparkSession): Double
  /** Roughly an op's wall time on a 4-core machine; sizes the timed
    * phase. */
  def nominalOpSeconds: Double
  /** Ops come in cycles of this many, each with the same mix of kinds. */
  def cycle: Int = 1
  /** The timed phase's op count: about `seconds` of ops at the nominal
    * time, at least `Main.MinOps` (six in a traced run), in whole
    * cycles. A count and not a deadline: ops keep getting cheaper well
    * into a run, so a run on a slow stretch of a shared host would
    * otherwise stop earlier and report from costlier ops. */
  def timedOps(seconds: Int, trace: Boolean): Int = {
    val least = if (trace) 2 * Main.MinTracedOps else Main.MinOps
    val n = math.max(least, math.ceil(seconds / nominalOpSeconds).toInt)
    (n + cycle - 1) / cycle * cycle
  }
  /** Set-up rounds per run; `setup_s` is their median. A set-up of a
    * tenth of a second needs more rounds than one of seconds for its
    * median to hold still. */
  def setupRounds: Int = 3
}

object Fs {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** Data files only: Spark's checksum and marker files are not data. */
  def dataFiles(p: Path): Seq[Path] = files(p).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Starts a clock; the function it returns gives the timing so far. */
  def start(): () => Timing = {
    val w0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    () => {
      val c = os.getProcessCpuTime
      Timing((System.nanoTime() - w0) / 1e9, (c - c0) / 1e9)
    }
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The mean time of `Reads` repeats of `read` after an op, outside
    * its timing and every span. A read is short (a few hundred ms), and
    * the JVM's CPU clock counts in 10 ms ticks, so one read would be
    * timed too coarsely. */
  val Reads = 5
  def repeatReads(read: => Any): Timing = {
    val stop = start()
    (1 to Reads).foreach(_ => read)
    val t = stop()
    Timing(t.wallS / Reads, t.cpuS / Reads)
  }
}
