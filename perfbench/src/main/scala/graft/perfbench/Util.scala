package graft.perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Order-independent fingerprint of a DataFrame's rows: the row count and the
  * sum of a 64-bit hash of each row. Floating-point values are rounded to
  * float precision first, so a sum whose last bits depend on the order
  * partials were combined in hashes the same on every run.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: String)

  private def hasFloating(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloating(e)
    case MapType(k, v, _) => hasFloating(k) || hasFloating(v)
    case s: StructType => s.fields.exists(f => hasFloating(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(e, _) if hasFloating(e) => transform(c, x => normalize(x, e))
    case MapType(_, v, _) if hasFloating(v) => transform_values(c, (_, x) => normalize(x, v))
    case s: StructType if hasFloating(s) =>
      when(c.isNull, lit(null)).otherwise(
        struct(s.fields.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  def of(df: DataFrame): Fp = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.map(f => normalize(col(f.name), f.dataType)): _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    Fp(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}

object Files {
  /** Bytes of every regular file under `path`. */
  def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  def rm(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(path))
  }

  def write(path: String, content: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, content)
  }

  def read(path: String): String = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
}
