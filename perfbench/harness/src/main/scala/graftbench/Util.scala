package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Minimal JSON rendering for the result and artifact files. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Weighted quantile: the smallest value whose cumulative weight
    * reaches q of the total (used for per-event latency from per-file
    * samples, where every event of a file shares one latency). */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) return Double.NaN
    val total = s.map(_._2).sum.toDouble
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= q * total }.map(_._1).getOrElse(s.last._1)
  }
}

object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }
  def fresh(path: String): String = { rm(new File(path)); new File(path).mkdirs(); path }
  def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8)); ()
  }
  /** Write to a hidden temp name next to `dir`, then rename into it, so
    * a directory watcher never sees a partial file. */
  def publish(dir: String, name: String, body: Array[Byte], stage: String): Path = {
    val tmp = Paths.get(stage, name)
    Files.write(tmp, body)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L) else f.length()
}

/** Box-load attribution from /proc/stat plus this JVM's CPU time. */
object Load {
  final case class Sample(wallNs: Long, total: Long, idle: Long, steal: Long, procCpuNs: Long)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def sample(): Sample = {
    val f = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).getOrElse("")
        .trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Array.empty[Long] }
    if (f.length < 8) Sample(System.nanoTime(), -1, -1, -1, os.getProcessCpuTime)
    else Sample(System.nanoTime(), f.sum, f(3) + f(4), f(7), os.getProcessCpuTime)
  }

  /** busy and steal shares of the whole box, and wall seconds per
    * second of this process's CPU, over [a, b]. */
  def between(a: Sample, b: Sample): Map[String, Double] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val cpu = (b.procCpuNs - a.procCpuNs) / 1e9
    val base = Map("wall_s" -> wall, "proc_cpu_s" -> cpu,
      "wall_per_cpu" -> (if (cpu > 0) wall / cpu else Double.NaN))
    if (a.total < 0 || b.total < 0) base
    else {
      val dt = math.max(1L, b.total - a.total).toDouble
      base ++ Map("busy_share" -> (dt - (b.idle - a.idle)) / dt,
        "steal_share" -> (b.steal - a.steal) / dt)
    }
  }
}

object Clock {
  def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val r = f; (r, sec(t0)) }
}
