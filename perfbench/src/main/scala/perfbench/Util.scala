package perfbench

import java.io.File
import scala.io.Source

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Just enough JSON writing for the records this benchmark prints. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float =>
      if (f.isNaN || f.isInfinite) "null" else java.lang.Float.toString(f)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(s) => s
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
  /** An already-encoded JSON fragment. */
  final case class Raw(json: String)
}

object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  /** Data files (not Hadoop `.crc` sidecars, not `_SUCCESS`-style
    * markers) and their bytes under a store directory. */
  def usage(dir: String): (Int, Long) = {
    val files = walk(new File(dir)).filter(f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.size, files.map(_.length).sum)
  }

  def read(path: String): String = {
    val src = Source.fromFile(path)
    try src.mkString finally src.close()
  }
}

/** The machine a record was taken on: core count, load, CPU accounting
  * over the run, a CPU calibration probe and the driver's peak RSS. */
final class Machine(spark: org.apache.spark.sql.SparkSession, val cpus: Int) {
  private def loadavg(): String =
    try Fs.read("/proc/loadavg").trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  private def jiffies(): Option[Array[Long]] =
    try Some(Fs.read("/proc/stat").linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toLong))
    catch { case _: Throwable => None }

  /** Seconds for a fixed in-memory sum over all cores: a quiet box
    * reads the same every time, contention reads slower. */
  def calib(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, cpus).selectExpr("sum(id * 2)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private val loadStart = loadavg()
  private val jiffiesStart = jiffies()
  calib() // compile the probe before timing it
  private val calibStart = calib()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used on all its threads. Time the
    * hypervisor steals and time other processes hold a core count
    * for neither. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def peakRssMb: Double =
    try Fs.read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  /** The context block of a record, sampled at the end of the run. */
  def context(): Map[String, Any] = {
    val cpu = for {
      a <- jiffiesStart; b <- jiffies() if a.length >= 8 && b.length >= 8
    } yield {
      val d = b.zip(a).map { case (x, y) => math.max(0L, x - y) }
      val tot = math.max(1L, d.sum).toDouble
      Map("steal_pct" -> 100.0 * d(7) / tot, "iowait_pct" -> 100.0 * d(4) / tot,
        "busy_pct" -> 100.0 * (tot - d(3) - d(4)) / tot)
    }
    Map("master" -> s"local[$cpus]", "cpus" -> cpus,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "proc_stat" -> cpu, "calib_start_s" -> calibStart,
      "calib_end_s" -> calib())
  }
}
