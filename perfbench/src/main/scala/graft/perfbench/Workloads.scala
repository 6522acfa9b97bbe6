package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Pipeline, SparkEntry}
import graft.config.MatchConfig
import graft.operators._
import Ctx.timed

/** One measured repetition: seconds of the cold operation (everything
  * computed from the Parquet inputs), seconds of the resume operation
  * (recomputed from the pair-scale state the cold one left behind), and the
  * bytes of that state.
  */
final case class Rep(cold: Double, resume: Double, stateBytes: Double)

object Rep {
  /** Resume operations per rep; `Rep.resume` is their mean. The resume
    * operation is short, so one sample per rep would be noisy.
    */
  val ResumeRuns = 2
}

/** Something with a traced pass: it sets up its inputs, then runs once with
  * a span around each call into the program and returns per-layer metrics.
  * The top span is named after it.
  */
trait Traced {
  def name: String
  /** Writes the inputs under `dir` with the current session and computes
    * what the correctness gates compare against.
    */
  def setup(ctx: Ctx, dir: String): Unit
  def traced(ctx: Ctx, tr: Tracer): Map[String, Double]
  def meta: Map[String, Any]
}

/** A workload: repeated, untraced, for the end-to-end metrics. */
trait Workload extends Traced {
  def minReps: Int = 4
  /** Runs the operation once on a quarter of the rows, untimed and
    * unchecked, so Spark's code generation and most JIT compilation are not
    * charged to the first timed rep.
    */
  def warmUp(ctx: Ctx): Unit
  /** One repetition; `i` is distinct per call within a run. */
  def rep(ctx: Ctx, i: Int): Option[Rep]
  /** End-to-end metrics from the successful reps (setup_s, peak_storage_mb
    * and ok_frac are added by the runner).
    */
  def endToEnd(reps: Seq[Rep]): Map[String, Double]

  protected def med(reps: Seq[Rep])(f: Rep => Double): Double =
    if (reps.isEmpty) Double.NaN else Stats.median(reps.map(f))
}

object LinkCluster {
  final case class Out(nComparisons: Long, nMatched: Long, nClusters: Long, tp: Long)
}

/** A x B link of the web corpus with itself: `Linker.link` -> `matches` ->
  * `ConnectedComponents.clusterPairs`, the gamma table cached in memory.
  * The resume operation re-runs pattern counting, EM, matching and
  * clustering over that cached table without scoring a pair again.
  */
final class LinkCluster(nBase: Long) extends Workload {
  import LinkCluster.Out
  val name = "link_cluster"
  private val cap = Inputs.MaxBlockRows
  private val fanout = Inputs.FanoutPartitions
  private val specs = Inputs.linkSpecs
  private val cfg = Inputs.linkConfig
  private val vars = specs.map(_.varname)

  private var pages: DataFrame = _
  private var nRows = 0L
  private var predicted = 0L
  private var truth = 0L
  private var firstOut: Option[(Long, Long)] = None

  def setup(ctx: Ctx, dir: String): Unit = {
    Inputs.webPages(ctx.spark, nBase, ctx.seed).write.parquet(s"$dir/pages.parquet")
    pages = ctx.spark.read.parquet(s"$dir/pages.parquet")
    val sizes = Inputs.blockSizes(pages)
    nRows = sizes.sum
    predicted = sizes.map(n => n * n).sum
    truth = Inputs.truthPairs(pages)
  }

  def warmUp(ctx: Ctx): Unit = {
    val (res, _) = job(Inputs.sample(pages, 4))
    res.persistedBase.foreach(b => recluster(ctx, b, nRows / 4))
    release(ctx, res)
  }

  def meta: Map[String, Any] = Map("n_base" -> nBase, "input_rows_per_side" -> nRows,
    "predicted_pairs" -> predicted, "truth_pairs" -> truth, "max_block_rows" -> cap,
    "fanout_partitions" -> fanout)

  private def side(df: DataFrame, id: String): DataFrame = df.select(col("page_id").as(id),
    col("title"), col("mid3"), col("tail3"), col("tok1"), col("lang"), col("n_tokens"), col("block"))

  private def f1(o: Out): Double =
    if (o.tp == 0) 0.0 else 2.0 * o.tp / (2.0 * o.tp + (o.nMatched - o.tp) + (truth - o.tp))

  private def matchedCounts(matched: DataFrame): (Long, Long) = {
    val sameCluster = (col("id_a") / 1000000L).cast("long") === (col("id_b") / 1000000L).cast("long")
    val r = matched.agg(count(lit(1)),
      coalesce(sum(when(sameCluster, 1L).otherwise(0L)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def clusters(matched: DataFrame): Long =
    ConnectedComponents.clusterPairs(matched).select(countDistinct("component")).head().getLong(0)

  private def summarize(matched: DataFrame, nComparisons: Long): Out = {
    val nClusters = clusters(matched)
    val (nMatched, tp) = matchedCounts(matched)
    Out(nComparisons, nMatched, nClusters, tp)
  }

  private def job(df: DataFrame): (Linker.LinkResult, Out) = {
    val res = Linker.link(side(df, "ida"), side(df, "idb"), cfg, blockCols = Seq("block"),
      maxBlockRows = Some(cap), fanoutPartitions = Some(fanout))
    (res, summarize(res.matches().filter(col("id_a") < col("id_b")), res.em.patterns.map(_.count).sum))
  }

  private def recluster(ctx: Ctx, base: DataFrame, rows: Long): Out = {
    val em = EmLink.runBig(Patterns.collect(Patterns.aggregate(base, vars), vars),
      (BigInt(rows), BigInt(rows)), vars, cfg.comparisons.em)
    val matched = Patterns.attach(base, Patterns.statsDf(ctx.spark, em), vars)
      .filter(col("zeta_j") >= em.thresholdMatch && col("id_a") < col("id_b"))
    summarize(matched, em.patterns.map(_.count).sum)
  }

  private def checkOut(ctx: Ctx, o: Out): Unit = {
    ctx.check(o.nComparisons == predicted,
      s"n_comparisons ${o.nComparisons} != sum over blocks of nA*nB = $predicted")
    ctx.check(f1(o) >= 0.99, s"pairwise F1 ${f1(o)} < 0.99")
    if (firstOut.isEmpty) firstOut = Some((o.nMatched, o.nClusters))
    ctx.check(firstOut.contains((o.nMatched, o.nClusters)),
      s"(n_matched, n_clusters) = ${(o.nMatched, o.nClusters)} differs from ${firstOut.get}")
  }

  private def release(ctx: Ctx, res: Linker.LinkResult): Unit = {
    res.persistedBase.foreach(_.unpersist(blocking = true))
    ctx.spark.catalog.clearCache()
  }

  def rep(ctx: Ctx, i: Int): Option[Rep] = {
    ctx.spark.catalog.clearCache()
    val cold = ctx.op(s"$name.job") {
      val ((res, out), s) = timed(job(pages))
      try checkOut(ctx, out) catch { case e: GateFailure => release(ctx, res); throw e }
      (res, out, s, ctx.cachedBytes.toDouble)
    }
    cold.flatMap { case (res, out, coldS, bytes) =>
      val resume = ctx.op(s"$name.resume") {
        val base = res.persistedBase.getOrElse(throw new GateFailure("no cached gamma table"))
        (1 to Rep.ResumeRuns).map { _ =>
          val (o2, s) = timed(recluster(ctx, base, nRows))
          ctx.check(o2 == out, s"resume result $o2 != job result $out")
          s
        }.sum / Rep.ResumeRuns
      }
      release(ctx, res)
      resume.map(r => Rep(coldS, r, bytes))
    }
  }

  def endToEnd(reps: Seq[Rep]): Map[String, Double] = Map(
    "job_s" -> med(reps)(r => r.cold + r.resume),
    "pairs_per_s" -> predicted / med(reps)(_.cold),
    "cold_run_s" -> med(reps)(_.cold),
    "resume_s" -> med(reps)(_.resume),
    "ckpt_bytes_per_pair" -> med(reps)(_.stateBytes) / predicted)

  def traced(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val sc = ctx.sc
    // untraced baseline in the same process; the traced pass must agree with it
    ctx.spark.catalog.clearCache()
    val untraced = ctx.op(s"$name.untraced") {
      val ((res, out), s) = timed(job(pages))
      release(ctx, res)
      checkOut(ctx, out)
      s
    }.getOrElse(Double.NaN)
    var m = Map.empty[String, Double]
    ctx.op(s"$name.traced") {
      // the public calls Linker.link makes, one span each
      val (nPairs, out, collected, em) = tr.span(sc, name) {
        val pairs = Linker.buildPairs(side(pages, "ida"), side(pages, "idb"), cfg, specs, Seq("block"),
          maxBlockRows = Some(cap), fanoutPartitions = Some(fanout))
        val nPairs = tr.span(sc, "pairs")(pairs.count())
        val narrow = tr.span(sc, "gamma") {
          val n = Gamma.addGammaColumns(pairs, specs)
            .select((Seq("id_a", "id_b") ++ vars.map(Gamma.gammaColName)).map(col): _*)
            .persist(StorageLevel.MEMORY_AND_DISK)
          n.count()
          n
        }
        val collected = tr.span(sc, "patterns")(
          Patterns.collect(Patterns.aggregate(narrow, vars), vars))
        val em = tr.span(sc, "em")(
          EmLink.runBig(collected, (BigInt(nRows), BigInt(nRows)), vars, cfg.comparisons.em))
        val (matched, nMatched, tp) = tr.span(sc, "matches") {
          val matched = Patterns.attach(narrow, Patterns.statsDf(ctx.spark, em), vars)
            .filter(col("zeta_j") >= em.thresholdMatch && col("id_a") < col("id_b"))
          val (n, tp) = matchedCounts(matched)
          (matched, n, tp)
        }
        val nClusters = tr.span(sc, "cc")(clusters(matched))
        narrow.unpersist(blocking = true)
        (nPairs, Out(collected.map(_.count).sum, nMatched, nClusters, tp), collected, em)
      }
      ctx.check(nPairs == predicted, s"pair join produced $nPairs pairs, predicted $predicted")
      checkOut(ctx, out)

      // per-variable comparison time over a persisted copy of the pair table
      val wide = Linker.buildPairs(side(pages, "ida"), side(pages, "idb"), cfg, specs, Seq("block"),
        maxBlockRows = Some(cap), fanoutPartitions = Some(fanout))
        .persist(StorageLevel.MEMORY_AND_DISK)
      wide.count()
      val perVar = specs.map { s =>
        val (_, sec) = timed(wide.select(Gamma.gammaCol(s, col(s.varname + "_a"), col(s.varname + "_b"))
          .as("g")).agg(coalesce(sum(col("g").cast("long")), lit(0L))).head())
        s"gamma.var.${s.varname}_s" -> sec
      }
      wide.unpersist(blocking = true)
      ctx.stats.drain()

      val top = tr.find(name)
      val layer = Seq("pairs", "gamma", "patterns", "em", "matches", "cc").map(n => n -> tr.find(n)).toMap
      val joinTasks = ctx.stats.tasksOfGroup("pairs")
      val skew = if (joinTasks.isEmpty) Double.NaN else {
        val stage = joinTasks.groupBy(_.stage).maxBy(_._2.map(_.durMs).sum)._2
        stage.map(_.durMs).max.toDouble / math.max(Stats.median(stage.map(_.durMs.toDouble)), 1.0)
      }
      m = Map(
        "pairs.join_s" -> tr.selfSeconds(layer("pairs")),
        "pairs.count" -> nPairs.toDouble,
        "pairs.replication" -> joinTasks.map(_.shuffleWriteRecords).sum.toDouble / (2.0 * nRows),
        "pairs.task_skew" -> skew,
        "gamma.pass_s" -> tr.selfSeconds(layer("gamma")),
        "gamma.ns_per_pair" -> (layer("gamma").seconds - layer("pairs").seconds) * 1e9 / nPairs,
        "patterns.agg_s" -> tr.selfSeconds(layer("patterns")),
        "patterns.count" -> collected.size.toDouble,
        "em.s" -> tr.selfSeconds(layer("em")),
        "em.iterations" -> em.iterConverge.toDouble,
        "em.converged" -> (if (em.converged) 1.0 else 0.0),
        "matches.s" -> tr.selfSeconds(layer("matches")),
        "matches.count" -> out.nMatched.toDouble,
        "matches.yield" -> out.nMatched.toDouble / nPairs,
        "cc.s" -> tr.selfSeconds(layer("cc")),
        "cc.edges" -> out.nMatched.toDouble,
        "cc.clusters" -> out.nClusters.toDouble,
        "trace.wall_s" -> top.seconds,
        "trace.covered_frac" -> layer.values.map(_.seconds).sum / top.seconds,
        "trace.overhead_s" -> (top.seconds - untraced)) ++ perVar
    }
    m
  }
}

/** Dedupe of the web corpus through the Pipeline CLI with a Parquet gamma
  * checkpoint: a cold run on a fresh checkpoint root, then resume runs, each
  * on a new session over the now-complete root.
  */
final class DedupeCkpt(nBase: Long) extends Workload {
  val name = "dedupe_ckpt"
  private val cfg = MatchConfig.fromJson(Inputs.dedupeConfigJson)
  private val stages = Checkpoints.stageNames(cfg)

  private var dir: String = _
  private var nRows = 0L
  private var predicted = 0L

  def setup(ctx: Ctx, dir: String): Unit = {
    this.dir = dir
    Inputs.webPages(ctx.spark, nBase, ctx.seed).write.parquet(s"$dir/pages.parquet")
    Files.write(s"$dir/config.json", Inputs.dedupeConfigJson)
    val pages = ctx.spark.read.parquet(s"$dir/pages.parquet")
    val sizes = Inputs.blockSizes(pages)
    nRows = sizes.sum
    predicted = sizes.map(n => n * (n - 1) / 2).sum
  }

  def warmUp(ctx: Ctx): Unit = {
    Inputs.sample(ctx.spark.read.parquet(s"$dir/pages.parquet"), 4)
      .write.parquet(s"$dir/warm.parquet")
    val warm = args(0).copy(inputA = s"$dir/warm.parquet")
    Pipeline.run(ctx.spark, warm)
    Pipeline.run(ctx.spark.newSession(), warm)
    cleanup(0)
  }

  def meta: Map[String, Any] = Map("n_base" -> nBase, "input_rows" -> nRows,
    "predicted_pairs" -> predicted, "stages" -> stages)

  private def args(i: Int) = Pipeline.parseArgs(Seq(
    "--input-a", s"$dir/pages.parquet", "--config", s"$dir/config.json", "--block", "block",
    "--checkpoint", s"$dir/ckpt$i", "--out", s"$dir/clusters$i.parquet",
    "--max-block-rows", Inputs.MaxBlockRows.toString,
    "--fanout", Inputs.FanoutPartitions.toString, "--gamma-checkpoint", "parquet"))

  private def resumed(summary: String): Seq[String] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    (org.json4s.jackson.JsonMethods.parse(summary) \ "resumed_stages").extract[Seq[String]]
  }

  private def clustersFp(ctx: Ctx, i: Int): Fingerprint.Fp =
    Fingerprint.of(ctx.spark.read.parquet(s"$dir/clusters$i.parquet"))

  /** Cold run then `resumeRuns` resume runs on checkpoint root `i`, each
    * checked; returns the cold time, the mean resume time and the root's size.
    */
  private def coldThenResume(ctx: Ctx, i: Int, resumeRuns: Int,
      tr: Option[Tracer] = None): Option[(Double, Double, Double)] = {
    val a = args(i)
    val cold = ctx.op(s"$name.cold") {
      var summary = ""
      val (_, s) = timed(Tracer.around(tr, ctx.sc, "pipeline.cold") { summary = Pipeline.run(ctx.spark, a) })
      ctx.check(resumed(summary).isEmpty, s"cold run resumed stages: $summary")
      val g = Checkpoints.readInfo(a.checkpointRoot, "gammas").map(_.rows)
      ctx.check(g.contains(predicted), s"gammas rows $g != sum over blocks of n(n-1)/2 = $predicted")
      (s, clustersFp(ctx, i))
    }
    val out = cold.flatMap { case (coldS, fp) =>
      ctx.op(s"$name.resume") {
        val times = (1 to resumeRuns).map { _ =>
          val session = ctx.spark.newSession()
          session.catalog.clearCache()
          var summary = ""
          val (_, s) = timed(Tracer.around(tr, ctx.sc, "pipeline.resume") {
            summary = Pipeline.run(session, a)
          })
          ctx.check(resumed(summary) == stages, s"resume run did not resume every stage: $summary")
          ctx.check(clustersFp(ctx, i) == fp, "clusters differ between the cold and the resume run")
          s
        }
        (coldS, times.sum / resumeRuns, Files.du(a.checkpointRoot).toDouble)
      }
    }
    out
  }

  private def cleanup(i: Int): Unit = {
    Files.rm(s"$dir/ckpt$i")
    Files.rm(s"$dir/clusters$i.parquet")
  }

  def rep(ctx: Ctx, i: Int): Option[Rep] = {
    val r = coldThenResume(ctx, i, Rep.ResumeRuns).map { case (c, s, bytes) => Rep(c, s, bytes) }
    cleanup(i)
    r
  }

  def endToEnd(reps: Seq[Rep]): Map[String, Double] = Map(
    "job_s" -> med(reps)(r => r.cold + r.resume),
    "pairs_per_s" -> predicted / med(reps)(_.cold),
    "cold_run_s" -> med(reps)(_.cold),
    "resume_s" -> med(reps)(_.resume),
    "ckpt_bytes_per_pair" -> med(reps)(_.stateBytes) / predicted)

  def traced(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val i = 999
    val root = args(i).checkpointRoot
    var m = Map.empty[String, Double]
    tr.span(ctx.sc, name) {
      coldThenResume(ctx, i, 1, Some(tr))
    }.foreach { _ =>
      // stage write times and sizes as the cold run recorded them
      val infos = stages.map(s => s -> Checkpoints.readInfo(root, s))
      m = infos.flatMap { case (s, info) =>
        Seq(s"ckpt.${s}_s" -> info.map(_.secs).getOrElse(Double.NaN),
          s"ckpt.${s}_bytes" -> Files.du(s"$root/$s").toDouble)
      }.toMap + ("ckpt.resumed_frac" -> 1.0) // the resume gate passed: every stage resumed
    }
    cleanup(i)
    m
  }
}

/** Every SparkEntry query named in the golden file, once, in an order set by
  * the seed, on tables generated from a fixed seed. Before each query the
  * catalog cache and the EM memo are cleared, so a query's time does not
  * depend on what ran before it. Each query's result fingerprint must match
  * the golden one. A pass runs in every traced run; its cold-JVM cost (about
  * a minute at local[4]) is too large to repeat in every untraced run.
  */
final class QuerySuite(scale: Double, golden: Map[String, Fingerprint.Fp], seed: Long) extends Traced {
  val name = "query_suite"
  val order: Seq[String] = new scala.util.Random(seed).shuffle(golden.keys.toSeq.sorted)

  private var dir: String = _
  private var rows = Map.empty[String, Long]

  def setup(ctx: Ctx, dir: String): Unit = {
    this.dir = dir
    val tables = Inputs.queryTables(ctx.spark, scale)
    tables.foreach { case (t, df) => df.write.parquet(s"$dir/$t.parquet") }
    rows = tables.keys.map(t => t -> ctx.spark.read.parquet(s"$dir/$t.parquet").count()).toMap
  }

  def meta: Map[String, Any] = Map("scale" -> scale, "table_rows" -> rows, "query_order" -> order)

  private def runQuery(ctx: Ctx, q: String): Unit = {
    val fn = SparkEntry.queries.getOrElse(q, throw new GateFailure(s"query $q no longer exists"))
    val fp = Fingerprint.of(fn(ctx.spark, dir))
    ctx.check(fp == golden(q), s"$q fingerprint $fp != golden ${golden(q)}")
  }

  def traced(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val times = tr.span(ctx.sc, name) {
      order.flatMap { q =>
        ctx.spark.catalog.clearCache()
        SparkEntry.clearEmMemo()
        ctx.op(s"query.$q")(tr.span(ctx.sc, s"query.$q")(runQuery(ctx, q))).map(_ => q)
      }
    }.map(q => q -> tr.find(s"query.$q").seconds)
    ctx.spark.catalog.clearCache()
    SparkEntry.clearEmMemo()
    times.map { case (q, s) => s"query.${q}_s" -> s }.toMap ++ Map(
      "query.suite_s" -> times.map(_._2).sum,
      "query.suite_geomean_s" -> Stats.geomean(times.map(_._2)))
  }
}
