package perfbench

/** Minimal JSON writer: values arrive pre-rendered (numbers, `str`-quoted). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",\n", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}

  private def regular(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) Seq.empty
    else {
      val w = JFiles.walk(root)
      try {
        val it = w.iterator()
        val b = Seq.newBuilder[Path]
        while (it.hasNext) { val p = it.next(); if (JFiles.isRegularFile(p)) b += p }
        b.result()
      } finally w.close()
    }
  }

  /** Bytes of every file under `dir` (data, checksums and metadata). */
  def bytes(dir: String): Long = regular(dir).map(JFiles.size).sum

  /** Parquet data files under `dir`. */
  def parquetFiles(dir: String): Int =
    regular(dir).count(_.getFileName.toString.endsWith(".parquet"))

  def deleteRecursively(dir: String): Unit = {
    val root = Paths.get(dir)
    if (JFiles.exists(root)) {
      val w = JFiles.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => JFiles.delete(p))
      finally w.close()
    }
  }
}

/** Deterministic per-purpose random streams derived from the run seed. */
final class Seeds(seed: Long) {
  def rng(purpose: String, i: Long = 0L): scala.util.Random =
    new scala.util.Random(scala.util.hashing.MurmurHash3.stringHash(s"$seed/$purpose/$i")
      .toLong * 0x9E3779B97F4A7C15L ^ seed)
  def long(purpose: String, i: Long = 0L): Long = rng(purpose, i).nextLong()
}
