package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. One process runs one workload once:
  *
  *   run <workload> <seed> <seconds> <trace 0|1> <workDir> <rawOut> <launchEpochMs>
  *   gen-selftest <seed>
  *
  * `run` sets up (a session three times, then the workload's warm-up steps
  * on a tiny seeded input), generates the inputs (cached by workload, seed
  * and size), runs the measured window, runs the output checks and writes
  * the raw samples, spans and job records to `rawOut` as JSON. perfbench/run.py
  * turns that file into metrics. */
object Main {

  val SetupRuns = 3

  def cores: Int = math.min(Runtime.getRuntime.availableProcessors(), 4)

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        graft.EngineConf.ExcludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", wl, seed, seconds, trace, work, out, launch) =>
      run(Workloads.all(wl), seed.toLong, seconds.toDouble, trace == "1",
        work, out, launch.toDouble)
    case Seq("gen-selftest", seed) => genSelfTest(seed.toLong)
    case _ =>
      System.err.println("usage: run <workload> <seed> <seconds> <trace> " +
        "<workDir> <rawOut> <launchEpochMs> | gen-selftest <seed>")
      sys.exit(2)
  }

  /** Same seed → identical digests; another seed → different ones. */
  def genSelfTest(seed: Long): Unit = {
    val digests = Seq(seed, seed, seed + 1).map { s =>
      Seq(Gen.etl(EtlDaily.spec(tiny = false), s).digest,
        Gen.corpus(CorpusDedup.spec(2000), s).digest,
        Gen.index(IndexServeCdc.spec(tiny = false), s).digest)
    }
    val same = digests(0) == digests(1)
    val differ = digests(0).zip(digests(2)).forall { case (a, b) => a != b }
    Seq("etl_daily", "corpus_dedup", "index_serve_cdc").zipWithIndex.foreach {
      case (w, i) => println(s"$w seed=$seed ${digests(0)(i)} " +
        s"seed=${seed + 1} ${digests(2)(i)}")
    }
    println(s"same-seed digests identical: $same; other seed differs: $differ")
    if (!(same && differ)) sys.exit(1)
  }

  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, launchMs: Double): Unit = {
    val jvmS = (Clock.ms() - launchMs) / 1000.0
    // set-up: a new session, three times (the median is reported), then
    // the warm-up steps of the workload on a tiny seeded input; the tiny
    // input's generation is not timed
    var spark: SparkSession = null
    val sessionS = (0 until SetupRuns).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = new Ctx(spark, new Tracer(false), s"$work/warm", 0)
    Files.delete(warm.work)
    w.prepare(spark, s"${warm.work}/in", w.sub(seed, 1000), tiny = true)
    val w0 = System.nanoTime()
    w.warmUp(warm, s"${warm.work}/in")
    val warmupS = (System.nanoTime() - w0) / 1e9
    Files.delete(warm.work)
    // inputs: generated outside every metric, cached by (workload, seed, size)
    val g0 = System.nanoTime()
    val in = s"$work/inputs/${w.name}-seed$seed-${w.sizeTag}"
    val digest = w.prepare(spark, in, seed, tiny = false)
    val genS = (System.nanoTime() - g0) / 1e9
    Files.warmTouch(in)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, tracer, s"$work/run", seconds)
    Files.delete(ctx.work)
    ctx.hygiene()
    tracer.attach(spark)
    try w.run(ctx, in)
    catch { case e: Throwable =>
      ctx.windowEnd = Clock.ms()
      if (!ctx.errors.exists(_.contains(String.valueOf(e.getMessage)))) {
        ctx.failed += 1
        ctx.errors += s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    org.apache.spark.graft.BenchHygiene.drainListenerBus(spark.sparkContext)
    val env = Map(
      "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "excluded_rules" -> graft.EngineConf.ExcludedOptimizerRules)
    val raw = Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace,
      "input_digest" -> digest, "gen_s" -> genS, "env" -> env,
      "jvm_s" -> jvmS, "setup_session_s" -> sessionS, "warmup_s" -> warmupS,
      "window" -> Seq(ctx.windowStart, ctx.windowEnd), "checks_s" -> ctx.checksS,
      "samples" -> ctx.samples, "quality" -> ctx.quality,
      "gauges" -> ctx.gauges, "checks" -> ctx.checks,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "errors" -> ctx.errors, "peak_rss_mb" -> vmHwmMb(),
      "spans" -> tracer.spansJson, "jobs" -> tracer.jobsJson,
      "progress" -> tracer.progress)
    val tmp = new java.io.File(out + ".tmp")
    java.nio.file.Files.write(tmp.toPath, Json(raw).getBytes("UTF-8"))
    tmp.renameTo(new java.io.File(out))
    spark.stop()
  }
}
