package graft.perfbench

import org.apache.spark.unsafe.types.UTF8String
import graft.functions.StringSim

/** Single-threaded microbench of the `StringSim` UTF8 entry points that the
  * gamma pass calls once per pair and variable.
  *
  * Two fixed string-pair sets, built from a constant seed so the golden
  * checksums stay valid for every workload seed:
  *  - `ascii`: corpus-style titles (three dictionary tokens, <= 64 bytes),
  *    the inputs the bit-parallel kernels take;
  *  - `long`: pairs longer than 64 bytes or with non-ASCII characters, the
  *    inputs that fall back to the general kernels.
  * Half of each set are near-duplicates (one edit apart), half unrelated.
  */
object Kernels {
  type Kernel = (UTF8String, UTF8String) => Double

  val kernels: Seq[(String, Kernel)] = Seq(
    "jw" -> ((a, b) => StringSim.jaroWinklerUTF8(a, b, 0.1)),
    "jaro" -> ((a, b) => StringSim.jaroUTF8(a, b)),
    "lv" -> ((a, b) => StringSim.levenshteinSimUTF8(a, b)),
    "osa" -> ((a, b) => StringSim.osaSimUTF8(a, b)),
    "dl" -> ((a, b) => StringSim.damerauLevenshteinSimUTF8(a, b)),
    "hamming" -> ((a, b) => StringSim.hammingSimUTF8(a, b)),
    "ro" -> ((a, b) => StringSim.ratcliffObershelpSimUTF8(a, b)))

  private val SetSeed = 20240917L
  private val PairsPerSet = 2000

  private val syllables = Seq("ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "na",
    "pe", "qi", "ro", "su", "ta", "ve", "wa", "xe", "yo", "zu")
  private val endings = Seq("n", "r", "s", "t", "l")
  private val nonAscii = Seq("é", "ü", "ß", "ø", "ñ", "ç", "中", "文", "ж", "λ")

  private def token(r: java.util.Random): String =
    syllables(r.nextInt(20)) + syllables(r.nextInt(20)) + endings(r.nextInt(5))

  private def words(r: java.util.Random, n: Int): String = Seq.fill(n)(token(r)).mkString(" ")

  /** One edit: substitute, delete, insert or transpose at a seeded position. */
  private def edit(r: java.util.Random, s: String): String = {
    val i = r.nextInt(s.length - 1)
    r.nextInt(4) match {
      case 0 => s.substring(0, i) + "q" + s.substring(i + 1)
      case 1 => s.substring(0, i) + s.substring(i + 1)
      case 2 => s.substring(0, i) + "x" + s.substring(i)
      case _ => s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) + s.substring(i + 2)
    }
  }

  private def pairs(gen: java.util.Random => String, salt: Long): Array[(UTF8String, UTF8String)] = {
    val r = new java.util.Random(SetSeed + salt)
    Array.fill(PairsPerSet) {
      val a = gen(r)
      val b = if (r.nextBoolean()) edit(r, a) else gen(r)
      (UTF8String.fromString(a), UTF8String.fromString(b))
    }
  }

  lazy val sets: Seq[(String, Array[(UTF8String, UTF8String)])] = Seq(
    "ascii" -> pairs(r => words(r, 3), 1L),
    "long" -> pairs(r =>
      if (r.nextBoolean()) words(r, 12 + r.nextInt(8))
      else {
        val w = words(r, 3).toCharArray.map(_.toString)
        w.indices.foreach(i => if (r.nextInt(4) == 0 && w(i) != " ") w(i) = nonAscii(r.nextInt(nonAscii.size)))
        w.mkString
      }, 2L))

  /** Order-independent checksum of a kernel's results over a set: the sum of
    * the similarities scaled to 1e-9 units. A kernel that is fast but returns
    * different similarities changes it.
    */
  def checksum(k: Kernel, set: Array[(UTF8String, UTF8String)]): Long =
    set.iterator.map { case (a, b) => math.round(k(a, b) * 1e9) }.sum

  final case class Result(kernel: String, set: String, nsPerCall: Double, checksum: Long)

  /** Times every kernel on every set: warm-up passes, then the median of
    * `batches` timed batches of whole passes, each about `batchMs` long.
    */
  def run(batches: Int = 7, batchMs: Double = 15.0): Seq[Result] = {
    var sink = 0.0
    def pass(k: Kernel, set: Array[(UTF8String, UTF8String)]): Unit = {
      var i = 0
      while (i < set.length) { sink += k(set(i)._1, set(i)._2); i += 1 }
    }
    val out = for ((setName, set) <- sets; (kName, k) <- kernels) yield {
      val sum = checksum(k, set)
      val w0 = System.nanoTime()
      var warm = 0
      while (warm < 3 || System.nanoTime() - w0 < 30e6) { pass(k, set); warm += 1 }
      val perPassNs = (System.nanoTime() - w0).toDouble / warm
      val passesPerBatch = math.max(1, (batchMs * 1e6 / perPassNs).toInt)
      val times = Array.fill(batches) {
        val t0 = System.nanoTime()
        var p = 0
        while (p < passesPerBatch) { pass(k, set); p += 1 }
        (System.nanoTime() - t0).toDouble / (passesPerBatch.toLong * set.length)
      }
      Result(kName, setName, Stats.median(times.toSeq), sum)
    }
    if (sink == 42.4242) println(sink) // keeps the timed calls observable
    out
  }
}
