package perfbench

/** One-line JSON through Jackson: `obj` builds an insertion-ordered object;
  * values may be strings, numbers, booleans, Scala sequences and nested
  * objects.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(fields: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[Any, Any]()
      m.forEach((k, x) => out.put(k, toJava(x)))
      out
    case xs: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      xs.foreach(x => out.add(toJava(x)))
      out
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON output: $d")
      d
    case other => other
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
