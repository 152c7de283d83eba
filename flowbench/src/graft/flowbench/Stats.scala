package graft.flowbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail reading: the value at the reported percentile, the
    * percentile itself, the sample count, and how many samples lie
    * beyond it. */
  final case class Tail(value: Double, pct: Double, n: Int, beyond: Int)

  /** The highest percentile that still has at least `beyond` samples
    * above it: in ascending order, the sample at index n-1-beyond.
    * None when there are too few samples to leave `beyond` above any
    * of them. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val i = s.length - 1 - beyond
    if (i < 0) None
    else Some(Tail(s(i), 100.0 * (i + 1) / s.length, s.length,
      s.length - 1 - i))
  }
}

/** A minimal JSON writer for the records the benchmark prints (maps,
  * sequences, strings, numbers, booleans). */
object Json {

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** The host the record was taken on: core count, runtime versions and
  * two pure-JVM compute scores, so a reader can tell host drift from
  * code drift when two records disagree. */
object Machine {

  /** Fixed integer work (xorshift plus table updates) per thread,
    * returned as million steps per second summed over `threads`. */
  def cpuScore(threads: Int, steps: Int = 20000000): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    def work(seed: Long): Unit = {
      val tbl = new Array[Long](4096)
      var x = seed | 1L
      var i = 0
      while (i < steps) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        val j = (x & 4095).toInt
        tbl(j) += x
        i += 1
      }
      sink.addAndGet(tbl.sum)
    }
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(t => new Thread(() => work(t + 17L)))
    ts.foreach(_.start()); ts.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    threads.toDouble * steps / 1e6 / secs
  }

  def stamp(): Map[String, Any] = {
    val n = Runtime.getRuntime.availableProcessors
    cpuScore(1, 5000000) // JIT warm-up, discarded
    Map(
      "nproc" -> n,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "cpu1_msteps_per_s" -> cpuScore(1),
      "cpuN_msteps_per_s" -> cpuScore(n))
  }

  /** Peak resident memory of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) Double.NaN
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(Double.NaN)
    }
  }
}
