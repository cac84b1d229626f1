package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def deleteTree(p: String): Unit = deleteTree(Paths.get(p))

  /** (data files, bytes) under `dir`, skipping Spark's marker and
    * checksum files. */
  def filesAndBytes(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).filterNot { f =>
        val n = f.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }.toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Least-squares slope of ys over their index. */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.size
    if (n < 2) return 0.0
    val mx = (n - 1) / 2.0
    val my = ys.sum / n
    val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
    val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
    num / den
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
