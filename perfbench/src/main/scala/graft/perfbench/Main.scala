package graft.perfbench

import scala.collection.mutable
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark entry point; `perfbench/run.py` builds the classpath and starts
  * it. One run sets up one workload several times (reporting the median
  * set-up time), then repeats the workload's operation until `--seconds` have
  * passed and prints one JSON line with the end-to-end metrics. With
  * `--trace 1` it runs the traced pass of every workload instead and prints
  * the per-layer metrics. `--record-golden` rewrites the golden files.
  */
object Main {
  // Input sizes, chosen so one operation takes a few seconds at local[4].
  val LinkNBase = 8000L
  val DedupeNBase = 8000L
  val SuiteScale = 0.5
  val SetupReps = 3
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, golden: String, result: String, gitSha: String, recordGolden: Boolean)

  private val workloadNames = Seq("link_cluster", "dedupe_ckpt")

  def parse(argv: Seq[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var rest = argv.toList
    var record = false
    while (rest.nonEmpty) rest match {
      case "--record-golden" :: tail => record = true; rest = tail
      case k :: v :: tail if k.startsWith("--") => m(k.drop(2)) = v; rest = tail
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("golden"), req("result"),
      m.getOrElse("git-sha", "unknown"), record)
    require(workloadNames.contains(o.workload) || o.recordGolden,
      s"unknown workload ${o.workload} (known: ${workloadNames.mkString(", ")})")
    o
  }

  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "pairs_per_s" -> "1/s", "cold_run_s" -> "s",
    "resume_s" -> "s", "ckpt_bytes_per_pair" -> "B", "peak_storage_mb" -> "MB",
    "ok_frac" -> "ratio")

  def layerUnit(name: String): String = name match {
    case n if n.endsWith("_ns") || n.startsWith("gamma.ns_") => "ns"
    case n if n.endsWith("_s") || n == "em.s" || n == "cc.s" || n == "matches.s" => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_bytes") => "B"
    case n if n.endsWith("_frac") || n.endsWith(".yield") || n.endsWith(".replication") ||
      n.endsWith(".task_skew") => "ratio"
    case "em.converged" => "flag"
    case _ => "count"
  }

  // ---- golden files ----

  private def goldenQueries(dir: String): Map[String, Fingerprint.Fp] = {
    val j = JsonMethods.parse(Files.read(s"$dir/queries.json"))
    j.asInstanceOf[JObject].obj.map { case (q, v) =>
      q -> Fingerprint.Fp((v \ "rows").asInstanceOf[JInt].num.toLong,
        (v \ "hash").asInstanceOf[JString].s)
    }.toMap
  }

  private def goldenKernels(dir: String): Map[String, Long] =
    JsonMethods.parse(Files.read(s"$dir/kernels.json")).asInstanceOf[JObject].obj
      .map { case (k, v) => k -> v.asInstanceOf[JInt].num.toLong }.toMap

  /** (steal, total) CPU jiffies from /proc/stat, where the OS has it: the
    * share of CPU time a virtual machine's host took away during the run.
    */
  private def cpuJiffies(): Option[(Long, Long)] =
    scala.util.Try {
      val f = Files.read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    }.toOption

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toIndexedSeq)
    val ctx = new Ctx(o.work, o.seed, Cores)
    val t0 = System.nanoTime()
    val cpu0 = cpuJiffies()
    try {
      if (o.recordGolden) recordGolden(ctx, o)
      else {
        val (metrics, samples, meta, spans) = if (o.trace) traced(ctx, o) else untraced(ctx, o)
        val correct = ctx.failed == 0 && ctx.attempted > 0 &&
          metrics.values.forall(v => !v._1.isNaN && !v._1.isInfinite)
        val metricsJson = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
        val line = Json.obj("correct" -> correct, "attempted" -> ctx.attempted,
          "failed" -> ctx.failed, "metrics" -> Json.Raw(Json.value(metricsJson)))
        Files.write(o.result, Json.obj(
          "result" -> Json.Raw(line),
          "meta" -> (meta ++ Map(
            "workload" -> o.workload, "seed" -> o.seed, "run_seconds" -> o.seconds,
            "trace" -> o.trace, "git_sha" -> o.gitSha,
            "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> Cores,
            "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
            "spark" -> org.apache.spark.SPARK_VERSION,
            "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
            "wall_s" -> (System.nanoTime() - t0) / 1e9,
            "cpu_steal_frac" -> (for ((steal0, all0) <- cpu0; (steal1, all1) <- cpuJiffies() if all1 > all0)
              yield (steal1 - steal0).toDouble / (all1 - all0)))),
          "samples" -> samples,
          "failures" -> ctx.failures.toSeq,
          "spans" -> Json.Raw(spans)) + "\n")
        println(line)
      }
    } finally ctx.stop()
  }

  private def newWorkload(name: String): Workload = name match {
    case "link_cluster" => new LinkCluster(LinkNBase)
    case "dedupe_ckpt" => new DedupeCkpt(DedupeNBase)
  }

  /** Sets `w` up `SetupReps` times, each on a fresh session and directory, and
    * returns the set-up times; the last session and inputs stay in use.
    */
  private def setup(ctx: Ctx, w: Traced, reps: Int): Seq[Double] =
    (1 to reps).map { i =>
      val (_, s) = Ctx.timed {
        ctx.newSession()
        if (i > 1) Files.rm(s"${ctx.work}/${w.name}-in${i - 1}")
        w.setup(ctx, s"${ctx.work}/${w.name}-in$i")
      }
      s
    }

  type Result = (Map[String, (Double, String)], Map[String, Int], Map[String, Any], String)

  private def untraced(ctx: Ctx, o: Opts): Result = {
    val w = newWorkload(o.workload)
    val setups = setup(ctx, w, SetupReps)
    val (_, warmS) = Ctx.timed(w.warmUp(ctx))
    val reps = mutable.ArrayBuffer.empty[Rep]
    val peaks = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 1
    var last = 0.0
    // keep starting reps while the next one is expected to end within the
    // measuring time
    while (i <= w.minReps || elapsed + last <= o.seconds) {
      // storage peak of this rep alone: let the previous rep's unreferenced
      // broadcast and shuffle blocks be cleaned first
      System.gc()
      ctx.stats.drain()
      ctx.stats.resetPeak()
      val r0 = System.nanoTime()
      w.rep(ctx, i).foreach { r =>
        reps += r
        ctx.stats.drain()
        peaks += ctx.stats.peakStorageBytes / 1e6
      }
      last = (System.nanoTime() - r0) / 1e9
      i += 1
    }
    val values = w.endToEnd(reps.toSeq) ++ Map(
      "setup_s" -> Stats.median(setups),
      "peak_storage_mb" -> (if (peaks.isEmpty) Double.NaN else Stats.median(peaks.toSeq)),
      "ok_frac" -> (ctx.attempted - ctx.failed).toDouble / math.max(ctx.attempted, 1))
    val metrics = endToEndUnits.map { case (k, u) => k -> (values(k), u) }.toMap
    val samples = endToEndUnits.map { case (k, _) =>
      k -> (if (k == "setup_s") setups.size else if (k == "ok_frac") ctx.attempted else reps.size)
    }.toMap
    (metrics, samples, w.meta ++ Map("setup_s_all" -> setups, "warmup_s" -> warmS, "reps" -> reps.size,
      "rep_cold_s" -> reps.map(_.cold), "rep_resume_s" -> reps.map(_.resume)), "[]")
  }

  /** Kernel microbench, then the traced pass of both workloads and of the
    * query suite, so a traced run reports every per-layer metric whichever
    * workload it names. The spark.* counters cover the named workload's
    * traced pass.
    */
  private def traced(ctx: Ctx, o: Opts): Result = {
    val tr = new Tracer(s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val golden = goldenKernels(o.golden)
    Kernels.run().foreach { r =>
      val key = s"${r.kernel}.${r.set}"
      ctx.op(s"kernel.$key") {
        ctx.check(golden.get(key).contains(r.checksum),
          s"kernel $key checksum ${r.checksum} != golden ${golden.get(key)}")
        layer(s"kernel.${key}_ns") = r.nsPerCall
      }
    }
    val meta = mutable.LinkedHashMap.empty[String, Any]
    val all = workloadNames.map(newWorkload) :+
      new QuerySuite(SuiteScale, goldenQueries(o.golden), o.seed)
    all.foreach { w =>
      val name = w.name
      setup(ctx, w, 1)
      w match {
        case wl: Workload => wl.warmUp(ctx) // as in an untraced run
        case _ =>
      }
      layer ++= w.traced(ctx, tr)
      meta(name) = w.meta
      if (name == o.workload) {
        ctx.stats.drain()
        tr.spans.find(_.name == name).foreach { top =>
          val win = ctx.stats.window(top.startMs, top.endMs, Cores)
          layer ++= Seq("spark.task_s" -> win.taskS, "spark.idle_s" -> win.idleS,
            "spark.busy_frac" -> win.busyFrac,
            "spark.jobs" -> ctx.stats.jobsIn(top.startMs, top.endMs).toDouble,
            "spark.shuffle_mb" -> win.shuffleMb, "spark.spill_mb" -> win.spillMb,
            "spark.gc_s" -> win.gcS)
        }
      }
    }
    val metrics = layer.map { case (k, v) => k -> (v, layerUnit(k)) }.toMap
    (metrics, metrics.map { case (k, _) => k -> 1 }, meta.toMap, tr.toJson)
  }

  /** Writes the golden files from this build: kernel checksums, and query
    * fingerprints that must agree over three passes in different orders.
    */
  private def recordGolden(ctx: Ctx, o: Opts): Unit = {
    val kernels = Kernels.sets.flatMap { case (set, pairs) =>
      Kernels.kernels.map { case (k, f) => s"$k.$set" -> Kernels.checksum(f, pairs) }
    }
    Files.write(s"${o.golden}/kernels.json",
      kernels.map { case (k, v) => s"  ${Json.str(k)}: $v" }.mkString("{\n", ",\n", "\n}\n"))
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    ctx.newSession()
    val dir = s"${o.work}/golden-in"
    Inputs.queryTables(ctx.spark, SuiteScale).foreach { case (t, df) =>
      df.write.parquet(s"$dir/$t.parquet")
    }
    val passes = (1 to 3).map { p =>
      new scala.util.Random(p).shuffle(names).map { q =>
        ctx.spark.catalog.clearCache()
        graft.SparkEntry.clearEmMemo()
        q -> Fingerprint.of(graft.SparkEntry.queries(q)(ctx.spark, dir))
      }.toMap
    }
    val unstable = names.filter(q => passes.map(_(q)).distinct.size > 1)
    require(unstable.isEmpty, s"query results differ between passes: ${unstable.mkString(", ")}")
    Files.write(s"${o.golden}/queries.json", names.map { q =>
      val fp = passes.head(q)
      s"  ${Json.str(q)}: ${Json.obj("rows" -> fp.rows, "hash" -> fp.hash)}"
    }.mkString("{\n", ",\n", "\n}\n"))
    println(Json.obj("recorded_queries" -> names.size, "recorded_kernels" -> kernels.size))
  }
}
