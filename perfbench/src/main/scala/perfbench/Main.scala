package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry}
import graft.fa.{Pipeline, Schemas, Stages}
import graft.ops.Sources

/** One benchmark run in one fresh JVM, started by `perfbench/run.py`.
  *
  * A single driver thread runs a closed loop: set up the session, run one
  * cold repetition of the workload, then warm repetitions until the time
  * budget is spent, at least nine. The JIT still speeds up the first warm
  * repetitions, so `wall_s` leaves out the first `WarmupReps` of them: the
  * median is then taken over the same repetitions whether the host is fast
  * or slow. With `--trace 1` every other timed repetition runs with spans,
  * the benchmark's SparkListener and its log appender switched on. The
  * measurements go to `<work>/result.json`; `run.py` checks the outputs
  * and prints the metrics.
  *
  *   Main --workload fa_etl|iter_loops --seed N --seconds S
  *        --trace 0|1 --work DIR --data DIR --launch-ms EPOCH_MS
  *        [--fa-counties N --fa-props N] [--inject-failure]
  *
  * `--fa-counties` and `--fa-props` give the corpus size; `fa_etl` needs
  * both.
  */
object Main {

  val IterLoops = Seq("q123_pagerank_dangling")
  val FaStages = Seq("Deed", "ranked_Deed", "Prop", "TaxHist", "ValHist",
    "ranked_ValHist", "unified")
  /** Warm repetitions run before those `wall_s` is the median of. */
  val WarmupReps = 4
  /** Query name standing in for a failing operation (`--inject-failure`). */
  val Missing = "perfbench_missing_query"

  final case class Args(m: Map[String, String], flags: Set[String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < a.length) {
      val k = a(i).stripPrefix("--")
      if (i + 1 < a.length && !a(i + 1).startsWith("--")) { m(k) = a(i + 1); i += 2 }
      else { flags += k; i += 1 }
    }
    Args(m.toMap, flags.toSet)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val bench = new Bench(args)
    val out = Paths.get(args("work"), "result.json")
    try Files.writeString(out, Json(bench.run()))
    finally bench.stop()
  }
}

/** The run itself: set-up, repetitions and their measurements. */
final class Bench(args: Main.Args) {
  import Main._

  private val workload = args("workload")
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val work = args("work")
  private val dataDir = args("data")
  private val cores = Runtime.getRuntime.availableProcessors
  private val inject = args.flags("inject-failure")
  private val tr = new Tracer
  private val collector = new Collector
  private var spark: SparkSession = _

  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  /** Local properties the listener attributes jobs by. */
  private def at(op: String, layer: String): Unit = {
    tr.op = op
    spark.sparkContext.setLocalProperty("perfbench.op", op)
    spark.sparkContext.setLocalProperty("perfbench.layer", layer)
  }

  private def setup(): Map[String, Any] = {
    val launchMs = args("launch-ms").toLong
    tr.enabled = traced
    spark = tr.span("session.create")(
      GraftSession(master = s"local[$cores]", shufflePartitions = Some(cores),
        appName = s"perfbench-$workload"))
    tr.span("session.tune")(GraftSession.tune(spark))
    if (traced) LogCounter.install()
    spark.range(0, 100000, 1, cores).selectExpr("sum(id * 7 % 13)").collect()
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val out = Map[String, Any]("setup_s" -> setupS,
      "session.create_ms" -> tr.ms("session.create"),
      "session.tune_ms" -> tr.ms("session.tune"))
    tr.enabled = false
    tr.reset()
    out
  }

  // ------------------------------------------------------------ queries

  private def queryList: Seq[String] = {
    IterLoops ++ (if (inject) Seq(Missing) else Nil)
  }

  /** One query: build, plan, execute. `sinkDir` set writes the result as
    * parquet for the oracle check instead of the `noop` sink. */
  private def runQuery(name: String, sinkDir: Option[String]): Unit = {
    at(name, "build")
    val df = tr.span("entry.build")(SparkEntry.queries(name)(spark, dataDir))
    at(name, "plan")
    val plan = tr.span("plans.plan")(df.queryExecution.executedPlan)
    if (tr.enabled) planNodes += Bench.nodeCount(plan)
    at(name, "exec")
    tr.span("exec.exec")(sinkDir match {
      case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
      case None => df.write.format("noop").mode("overwrite").save()
    })
  }

  private var planNodes = 0L

  /** One pass over the workload's queries; false if any query failed. */
  private def queryPass(sinkDir: Option[String]): Boolean =
    queryList.map { q =>
      attempted += 1
      try { runQuery(q, sinkDir); true }
      catch { case e: Throwable => fail(q, e); false }
    }.forall(identity)

  private def fail(op: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
  }

  // ----------------------------------------------------------------- FA

  private val faInput = s"$work/fa_input"
  private var faRep = 0
  /** (rows, checksum) of every repetition's merged panel, untraced first. */
  val faResults = mutable.ArrayBuffer.empty[(String, Long, String)]

  /** A fresh pipeline directory whose raw/ holds links to the generated
    * zips: `Sources.stageParquet` skips any stage already committed. */
  private def freshFaDir(): String = {
    faRep += 1
    val dir = Paths.get(work, "fa", s"rep$faRep")
    // with --inject-failure the first timed run has no raw/ and fails
    if (!(inject && faRep == 2)) {
      Files.createDirectories(dir.resolve("raw"))
      Files.list(Paths.get(faInput, "raw")).iterator().asScala.foreach(f =>
        Files.createLink(dir.resolve("raw").resolve(f.getFileName), f))
    } else Files.createDirectories(dir)
    dir.toString
  }

  /** The pipeline as `Pipeline.run` composes it, with a span around each
    * public call. `Pipeline.readFamily` is private; `read` uses its reader
    * options. */
  private def faComposed(base: String): DataFrame = {
    val p = new Pipeline(spark, base, partitionByFips = true)
    val names = Schemas.FamilyNames()
    at("", "fa")
    tr.span("fa.scaffold")(p.scaffold())
    val raw = tr.span("fa.classify")(p.classifyRaw())
    def read(family: String): DataFrame = {
      val txts = tr.span("sources.unzip")(raw(family).flatMap(f =>
        Sources.unzip(s"$base/raw/$f", s"$base/unzipped")))
      unzipBytes += txts.map(t => Files.size(Paths.get(t))).sum
      spark.read.option("sep", "|").option("header", "true")
        .option("mode", "PERMISSIVE").csv(txts: _*)
    }
    def stage(name: String, byFips: Boolean)(clean: => DataFrame): DataFrame = {
      at(name, "fa")
      tr.span(s"fa.$name")(tr.span("sources.stage")(
        Sources.stageParquet(spark, s"$base/staging/$name",
          if (byFips) Seq("FIPS") else Nil)(tr.span("fa.build")(clean))))
    }
    val deed = stage(names.deed, true)(Stages.cleanSales(read(names.deed)))
    val rankedDeed = stage(s"ranked_${names.deed}", false)(
      Stages.rankSales(deed, randomTies = false))
    val prop = stage(names.annual, true)(Stages.cleanProp(read(names.annual)))
    val taxHist = stage(names.taxHist, false)(
      Stages.cleanTaxHist(read(names.taxHist)))
    val valHist = stage(names.valueHistory, false)(
      Stages.cleanValHist(read(names.valueHistory)))
    val rankedValHist = stage(s"ranked_${names.valueHistory}", false)(
      Stages.rankValHist(valHist))
    at("unified", "fa")
    tr.span("fa.unified") {
      val merged = tr.span("fa.build")(
        Stages.unifiedJoin(rankedValHist, prop, rankedDeed, taxHist))
      val out = tr.span("sources.sink")(
        Sources.sinkParquet(merged, s"$base/unified/merged.parquet"))
      tr.span("fa.cleanup")(p.cleanup())
      out
    }
  }

  private var unzipBytes = 0L

  /** Run directory and label of the last pipeline run, checked after its
    * measurements are taken. */
  private var unchecked: Option[(String, String)] = None

  /** One pipeline run plus the merged `count()`; false if it failed. */
  private def faRun(composed: Boolean): Boolean = {
    val dir = freshFaDir()
    attempted += 1
    try {
      if (composed) { val m = faComposed(dir); tr.span("fa.unified")(m.count()) }
      else new Pipeline(spark, dir, partitionByFips = true).run().count()
      unchecked = Some(dir -> (if (composed) "traced" else "untraced"))
      true
    } catch {
      case e: Throwable =>
        Bench.deleteTree(Paths.get(dir)); fail(s"pipeline run $faRep", e); false
    }
  }

  /** Row count and order-independent checksum of the last run's merged
    * panel, outside the timed region. */
  private def faCheck(): Unit = unchecked.foreach { case (dir, label) =>
    at("check", "check")
    val m = spark.read.parquet(s"$dir/unified/merged.parquet")
    val r = m.agg(count(lit(1)),
      sum(xxhash64(m.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    faResults += ((label, r.getLong(0), String.valueOf(r.get(1))))
    Bench.deleteTree(Paths.get(dir))
    unchecked = None
  }

  // ---------------------------------------------------------- the loop

  /** One repetition; its wall seconds, or None if any operation failed.
    * The cold first pass of a query workload writes each result as parquet
    * for the oracle check; warm passes use the `noop` sink. */
  private def rep(first: Boolean, composed: Boolean): Option[Double] = {
    val t0 = System.nanoTime()
    val ok =
      if (workload == "fa_etl") faRun(composed)
      else queryPass(if (first) Some(s"$work/out") else None)
    if (ok) Some((System.nanoTime() - t0) / 1e9) else None
  }

  /** Warm repetitions until `budget` seconds have passed (at least `min`). */
  private def loop(budget: Double, min: Int): Seq[Double] = {
    val start = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    var n = 0
    while (n < min || (System.nanoTime() - start) / 1e9 < budget) {
      n += 1
      rep(first = false, composed = false).foreach(walls += _)
      faCheck()
    }
    walls.toSeq
  }

  def run(): Map[String, Any] = {
    val setupOut = setup()
    if (workload == "fa_etl")
      Bench.faGenerate(faInput, seed, args("fa-counties").toInt,
        args("fa-props").toInt)
    val first = rep(first = true, composed = false)
    faCheck()
    val (plain, layer) =
      if (traced) traceReps()
      else (loop(seconds, WarmupReps + 5), Map.empty[String, Any])
    val samples = if (traced) plain else plain.drop(WarmupReps)
    if (workload != "fa_etl") Bench.writeOracle(s"$work/out", queryList)
    setupOut ++ layer ++ Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "first_s" -> first.getOrElse(Double.NaN),
      "walls" -> plain, "wall_samples" -> samples, "wall_s" -> median(samples),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "jvm.peak_rss_mb" -> Bench.procStatusKb("VmHWM") / 1024.0,
      "versions" -> Map("java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "fa_results" -> faResults.map { case (l, r, c) =>
        Map("label" -> l, "rows" -> r, "checksum" -> c) }.toSeq,
      "fa_input" -> (if (workload == "fa_etl") Bench.faInputSize(faInput)
                     else Map.empty[String, Any]))
  }

  /** Pairs of one untraced and one traced warm repetition, at least two
    * pairs, until the budget is spent. Per-layer metrics are medians over
    * the traced repetitions. The trace overhead is the median over pairs of
    * traced ÷ untraced wall; the order within a pair alternates, so the JIT
    * warm-up that slows the earlier repetition of a pair cancels out. The
    * FA pipeline's traced repetitions run the spanned composition of its
    * public functions. Returns the untraced walls. */
  private def traceReps(): (Seq[Double], Map[String, Any]) = {
    val sc = spark.sparkContext
    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val plain, ratios = mutable.ArrayBuffer.empty[Double]
    val perRep = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spanNames = mutable.SortedSet.empty[String]
    val start = System.nanoTime()
    var n = 0
    def untraced(): Option[Double] = {
      val wall = rep(first = false, composed = false)
      wall.foreach(plain += _)
      faCheck()
      wall
    }
    def traced(): Option[Double] = {
      org.apache.spark.PerfbenchAccess.drain(sc)
      collector.reset(); tr.reset(); unzipBytes = 0L
      val logs0 = LogCounter.snapshot()
      val nodes0 = planNodes
      sc.addSparkListener(collector)
      tr.enabled = true
      val wall = rep(first = false, composed = workload == "fa_etl")
      tr.enabled = false
      org.apache.spark.PerfbenchAccess.drain(sc)
      sc.removeSparkListener(collector)
      wall.foreach(w => perRep += repMetrics(w, logs0, planNodes - nodes0))
      spanNames ++= tr.names
      faCheck()
      wall
    }
    while (n < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      n += 1
      val (u, t) =
        if (n % 2 == 1) { val u = untraced(); (u, traced()) }
        else { val t = traced(); (untraced(), t) }
      for (a <- u; b <- t) ratios += b / a
    }
    val keys = perRep.flatMap(_.keys).distinct
    (plain.toSeq,
      keys.map(k => k -> median(perRep.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
      Map("trace.overhead_ratio" -> median(ratios.toSeq),
        "jvm.heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "trace_reps" -> perRep.toSeq, "trace_spans" -> spanNames.toSeq))
  }

  private def repMetrics(wall: Double, logs0: (Long, Long, Long),
                         nodes: Long): Map[String, Double] = {
    val (f0, d0, a0) = logs0
    val (f1, d1, a1) = LogCounter.snapshot()
    val c = collector.total
    val wallMs = wall * 1000
    val selfs = Seq("session", "entry", "plans", "exec", "sources", "fa")
      .map(l => s"$l.self_ms" -> tr.layerSelfMs(l)).toMap
    val build = tr.named("entry.build")
    val gap = build.map(s => collector.uncoveredMs("build", s.w0, s.w1)).sum
    val perQuery = IterLoops.flatMap(q => Seq(
      s"query.$q.ms" -> tr.opMs(q),
      s"query.$q.jobs" -> collector.op(q).jobs.toDouble))
    val perStage = FaStages.flatMap { st =>
      val o = collector.op(st)
      Seq(s"fa.$st.ms" -> tr.ms(s"fa.$st"),
        s"fa.$st.rows" -> o.recordsWritten.toDouble,
        s"fa.$st.task_ms" -> o.taskMs.toDouble,
        s"fa.$st.shuffle_bytes" -> o.shuffleWrite.toDouble)
    }
    val csvRead = Seq("Deed", "Prop", "TaxHist", "ValHist")
      .map(collector.op(_).recordsRead).sum
    selfs ++ perQuery ++ perStage ++ Map(
      "trace.wall_ms" -> wallMs,
      "trace.unattributed_ms" -> (wallMs - tr.topLevelMs),
      "session.fn_reregister_warns" -> (f1 - f0).toDouble,
      "entry.build_ms" -> tr.ms("entry.build"),
      "entry.build_jobs" -> collector.layer("build").jobs.toDouble,
      "entry.driver_gap_ms" -> gap.toDouble,
      "plans.plan_ms" -> tr.ms("plans.plan"),
      "plans.plan_nodes" -> nodes.toDouble,
      "exec.exec_ms" -> tr.ms("exec.exec"),
      "exec.jobs" -> c.jobs.toDouble,
      "exec.stages" -> c.stages.toDouble,
      "exec.tasks" -> c.tasks.toDouble,
      "exec.task_ms" -> c.taskMs.toDouble,
      "exec.gc_ms" -> c.gcMs.toDouble,
      "exec.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "exec.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "exec.spill_bytes" -> c.spill.toDouble,
      "exec.failed_tasks" -> c.failedTasks.toDouble,
      "exec.core_busy_ratio" -> c.taskMs / (wallMs * cores),
      "exec.dup_block_warns" -> (d1 - d0).toDouble,
      "exec.missing_accum_errors" -> (a1 - a0).toDouble,
      "sources.unzip_ms" -> tr.ms("sources.unzip"),
      "sources.unzip_bytes" -> unzipBytes.toDouble,
      "sources.csv_records_read" -> csvRead.toDouble,
      "sources.sink_ms" -> (tr.selfMs("sources.stage") + tr.ms("sources.sink")),
      "sources.parquet_bytes_written" -> c.bytesWritten.toDouble)
  }

  def stop(): Unit = if (spark != null) spark.stop()
}

object Bench {
  /** Operator count of a physical plan, looking inside adaptive plans and
    * subqueries. */
  def nodeCount(p: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => 1L + nodeCount(a.inputPlan)
      case _ => 1L
    }.sum
  }

  def procStatusKb(field: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private def writeZip(dir: String, name: String, header: String,
                       rows: Iterator[String]): Long = {
    val zos = new ZipOutputStream(
      Files.newOutputStream(Paths.get(dir, s"$name.txt.zip")))
    var n = 0L
    zos.putNextEntry(new ZipEntry(s"$name.txt"))
    zos.write(header.getBytes("UTF-8")); zos.write('\n')
    rows.foreach { r => zos.write(r.getBytes("UTF-8")); zos.write('\n'); n += 1 }
    zos.closeEntry(); zos.close()
    n
  }

  /** The FaScale corpus with a seed: county `c` draws from
    * `Random(1000 * seed + c)`, so seed 1 reproduces `FaScale.generate`
    * (the FA gate corpus at 8 counties x 20000 properties). */
  def faGenerate(base: String, seed: Long, nCounties: Int,
                 propsPerCounty: Int): Unit = {
    val raw = s"$base/raw"
    deleteTree(Paths.get(base))
    Files.createDirectories(Paths.get(raw))
    var rows = 0L
    for (c <- 0 until nCounties) {
      val fips = f"${10001 + c * 2}%05d"
      val rng = new scala.util.Random(1000L * seed + c)
      def pid(i: Int): Long = c.toLong * 10000000L + i
      rows += writeZip(raw, s"Deed$fips",
        "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate",
        Iterator.range(0, propsPerCounty).flatMap { i =>
          (0 until 1 + rng.nextInt(3)).map { s =>
            val yr = 2015 + rng.nextInt(8)
            val d = f"$yr${1 + rng.nextInt(12)}%02d${1 + rng.nextInt(28)}%02d"
            val tt = 1 + rng.nextInt(6)
            val fa = "1369".charAt(rng.nextInt(4))
            s"${pid(i)}|${50000 + rng.nextInt(900000)}|$d|$fips|20230101|${fa}X$s|$tt|$d"
          }
        })
      rows += writeZip(raw, s"Prop$fips",
        "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode",
        Iterator.range(0, propsPerCounty).map { i =>
          val cls = if (rng.nextInt(10) == 0) "C" else "R"
          s"${pid(i)}|$cls|20230101|${30 + rng.nextDouble()}|${-90 - rng.nextDouble()}|${i} Main St|Town$c|ST|${rng.nextInt(99999)}|$fips|${rng.nextInt(999999)}|${rng.nextInt(9999)}|A"
        })
      rows += writeZip(raw, s"TaxHist$fips", "PropertyID|TaxYear|TaxAmt",
        Iterator.range(0, propsPerCounty).flatMap { i =>
          (2015 to 2022).map(y => s"${pid(i)}|$y|${100000 + rng.nextInt(900000)}")
        })
      rows += writeZip(raw, s"ValHist$fips",
        "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear|ApprTotalValue|ApprYear|TaxableYear",
        Iterator.range(0, propsPerCounty).flatMap { i =>
          (2015 to 2022).map { y =>
            val assd = if (rng.nextInt(20) == 0) "" else (200000 + rng.nextInt(800000)).toString
            s"${pid(i)}|$assd|$y|${250000 + rng.nextInt(800000)}|$y|||$y"
          }
        })
    }
    Files.writeString(Paths.get(base, "rows"), rows.toString)
  }

  def faInputSize(base: String): Map[String, Any] = {
    val zips = Files.list(Paths.get(base, "raw")).iterator().asScala.toSeq
    Map("rows" -> Files.readString(Paths.get(base, "rows")).trim.toLong,
      "bytes" -> zips.map(Files.size).sum, "files" -> zips.size)
  }

  /** `oracle_sql.json` beside the query dumps, in `graft.Verify`'s layout,
    * for the queries that have an oracle. */
  def writeOracle(dir: String, queries: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val sql = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Json(sql))
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
