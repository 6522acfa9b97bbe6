package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** A failed correctness gate: the operation's output was wrong. */
final class GateFailure(msg: String) extends Exception(msg)

/** Per-run state: the Spark session and its listener, the work directory,
  * and the count of operations attempted and failed.
  */
final class Ctx(val work: String, val seed: Long, val cores: Int) {
  var spark: SparkSession = _
  var stats: SparkStats = _
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def sc: SparkContext = spark.sparkContext

  /** Stops the current session, if any, and starts a fresh one: `local[cores]`,
    * every scratch directory inside the work directory.
    */
  def newSession(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    sc.setLogLevel("ERROR")
    stats = new SparkStats
    sc.addSparkListener(stats)
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new GateFailure(msg)

  /** One attempted operation. If it throws, or a gate inside it fails, it
    * counts as failed and yields None, so a failed operation never posts a
    * time.
    */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: $e"
        System.err.println(s"[perfbench] FAILED $name: $e")
        None
    }
  }

  /** Bytes Spark holds for persisted tables right now (memory + disk). */
  def cachedBytes: Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

object Ctx {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
