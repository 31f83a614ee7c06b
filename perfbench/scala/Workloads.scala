package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.MetaEtlMain
import graft.ext.{DedupOps, Hybrid, Similarity, TextAnalysis}
import graft.pipelines.Pipelines
import graft.sinks.{IndexManifest, Upsert}
import graft.streaming.StreamIndex

/** State shared by one measured run: the session, the tracer, the timed
  * samples, the op counters and the output checks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val work: String, val seconds: Double) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val quality = mutable.LinkedHashMap.empty[String, Double]
  val gauges = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  var windowStart = 0.0
  var windowEnd = 0.0
  var checksS = 0.0

  def record(kind: String, seconds: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  def gauge(name: String, v: Double): Unit =
    gauges.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time one operation. A failed operation is counted and re-thrown;
    * its time is never recorded. */
  def timed[T](kind: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try body catch { case e: Throwable =>
      failed += 1
      errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
      throw e
    }
    record(kind, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** An output check, run outside every timed window. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, detail) = try body catch { case e: Throwable =>
      (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (!ok) failed += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  def elapsed: Double = (Clock.ms() - windowStart) / 1000.0

  /** Free cached blocks, shuffles and broadcasts between timed
    * operations and settle the heap, as graft.Bench does. */
  def hygiene(): Unit = harness {
    org.apache.spark.graft.BenchHygiene.releaseAll(spark.sparkContext)
    org.apache.spark.graft.BenchHygiene.drainListenerBus(spark.sparkContext)
    System.gc()
  }

  /** Benchmark housekeeping inside the window (clean-up, hygiene): traced
    * as span "harness", which is not a layer of the program. */
  def harness[T](body: => T): T = tracer.span(spark, "harness")(body)

  def dir(parts: String*): String = (work +: parts).mkString("/")
}

object Files {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") && f.getName.endsWith(".crc")) 0L
      else f.length()
    walk(new File(path))
  }
  /** Read every input file once so the timed window starts warm. */
  def warmTouch(path: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    walk(new File(path))
  }
}

/** A workload: inputs from a seed, an endless schedule of timed
  * operations (step `i` runs the operation at `i` modulo the schedule's
  * length) and the output checks. The window runs steps until `--seconds`
  * have passed, at least `minSteps` of them (a bulk and a round sample),
  * and ends with a step it may end after; each sample kind is reported as
  * the median of the window's samples. */
trait Workload {
  def name: String
  /** Names the measured input's size in its cache directory. */
  def sizeTag: String
  /** Generate (or reuse cached) inputs under `in`; returns the digest. */
  def prepare(spark: SparkSession, in: String, seed: Long, tiny: Boolean): String
  def step(ctx: Ctx, in: String, i: Int): Unit
  /** Steps that give a bulk and a round sample; also the warm-up. */
  def minSteps: Int
  /** Whether the window may end after step `i`: the checks need the state
    * it leaves, and fixed end steps keep the sample count the same from
    * one run to the next (samples get faster through a run). */
  def canStop(i: Int): Boolean = true
  def checks(ctx: Ctx, in: String, lastStep: Int): Unit

  def run(ctx: Ctx, in: String): Unit = {
    ctx.windowStart = Clock.ms()
    var i = 0
    while (i < minSteps || ctx.elapsed < ctx.seconds || !canStop(i - 1)) {
      ctx.tracer.run = s"$name-step$i"
      step(ctx, in, i)
      i += 1
    }
    ctx.windowEnd = Clock.ms()
    checks(ctx, in, i - 1)
    ctx.checksS = (Clock.ms() - ctx.windowEnd) / 1000
  }

  /** The set-up warm-up on the tiny input: the first `minSteps` steps. */
  def warmUp(ctx: Ctx, in: String): Unit = (0 until minSteps).foreach(step(ctx, in, _))

  /** Seed for sub-input `k` of a run seeded `seed`. */
  def sub(seed: Long, k: Int): Long = seed * 1000003L + k
}

object Workloads {
  val all: Map[String, Workload] =
    Seq(EtlDaily, CorpusDedup, IndexServeCdc).map(w => w.name -> w).toMap

  /** Row count plus an order-independent digest of a table. */
  def tableDigest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => coalesce(col(c).cast(StringType), lit("\u0000")))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

// ================================================================ etl_daily

object EtlDaily extends Workload {
  val name = "etl_daily"
  val Tables = Seq("ads_dimension", "ads_campaign_performance",
    "ads_lead_insights", "ads_raw_leads")

  def spec(tiny: Boolean): Gen.EtlSpec =
    if (tiny) Gen.EtlSpec(days0 = 3, pulls = 1, eventsPerDay = 200, ads0 = 20,
      newAdsPerDay = 3, adSkew = 1.1, restateShare = 0.3)
    else Gen.EtlSpec(days0 = 10, pulls = 3, eventsPerDay = 1000, ads0 = 150,
      newAdsPerDay = 10, adSkew = 1.1, restateShare = 0.3)

  def prepare(spark: SparkSession, in: String, seed: Long, tiny: Boolean): String = {
    val g = Gen.etl(spec(tiny), seed)
    Gen.write(spark, g.backfill, Gen.EventsSchema, s"$in/backfill/events.parquet")
    g.pulls.zipWithIndex.foreach { case (p, j) =>
      Gen.write(spark, p, Gen.EventsSchema, s"$in/pull_${j + 1}/events.parquet")
    }
    Gen.write(spark, g.finalHistory, Gen.EventsSchema, s"$in/final/events.parquet")
    pulls = g.pulls.size
    g.digest
  }
  private var pulls = 0

  /** One run of the reference job (E1–E4 into the warehouse). Untraced it
    * is `MetaEtlMain.runAll` itself; traced, the same calls in the same
    * order with each pipeline's output materialized in its own span. */
  def job(ctx: Ctx, src: String, wh: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    if (!t.enabled) {
      val failures = MetaEtlMain.runAll(spark, src, wh).collect {
        case (tbl, Some(e)) => s"$tbl: ${e.getMessage}" }
      require(failures.isEmpty, failures.mkString("; "))
    } else {
      def flow(table: String, pipeline: String, sink: String)
          (df: => DataFrame): Unit = {
        val out = t.materialized(spark, pipeline)(df)
        try t.span(spark, sink)(Upsert.upsertTable(spark, wh, table, out))
        finally out.unpersist(blocking = false)
      }
      flow("ads_dimension", "pipelines.dimension", "sinks.upsert_dim")(
        Pipelines.dimension(spark, src))
      flow("ads_campaign_performance", "pipelines.performance",
        "sinks.upsert_fact")(Pipelines.performance(spark, src))
      flow("ads_lead_insights", "pipelines.leads", "sinks.upsert_fact")(
        Pipelines.leads(spark, src))
      flow("ads_raw_leads", "pipelines.raw_leads", "sinks.upsert_dim")(
        Pipelines.rawLeads(spark, src))
    }
  }

  def sizeTag: String = { val s = spec(tiny = false)
    s"d${s.days0}-p${s.pulls}-e${s.eventsPerDay}" }

  /** A turn is the backfill into a new warehouse, then every pull. */
  private def turn: Int = 1 + pulls
  def minSteps: Int = turn
  override def canStop(i: Int): Boolean = i % turn == turn - 1

  def step(ctx: Ctx, in: String, i: Int): Unit = {
    val (t, j) = (i / turn, i % turn)
    val wh = ctx.dir("etl", s"wh$t")
    ctx.harness {
      if (j == 0) {
        Files.delete(wh)
        if (t > 0) Files.delete(ctx.dir("etl", s"wh${t - 1}"))
      }
    }
    ctx.hygiene()
    if (j == 0) ctx.timed("bulk")(job(ctx, s"$in/backfill", wh))
    else ctx.timed("round")(job(ctx, s"$in/pull_$j", wh))
  }

  def digests(spark: SparkSession, wh: String): Seq[String] =
    Tables.map(tbl => s"$tbl=" + Workloads.tableDigest(spark.read.parquet(s"$wh/$tbl")))

  def checks(ctx: Ctx, in: String, last: Int): Unit = {
    val spark = ctx.spark
    val wh = ctx.dir("etl", s"wh${last / turn}")
    val after = digests(spark, wh)
    val plain = new Ctx(spark, new Tracer(false), ctx.work, 0)
    ctx.check("etl.incremental_equals_one_shot") {
      val oneShot = ctx.dir("etl", "oneshot")
      Files.delete(oneShot)
      job(plain, s"$in/final", oneShot)
      val expect = digests(spark, oneShot)
      (after == expect, s"incremental ${after.mkString(",")} one-shot ${expect.mkString(",")}")
    }
    ctx.check("etl.rerun_last_day_is_noop") {
      job(plain, s"$in/pull_$pulls", wh)
      val again = digests(spark, wh)
      (again == after, s"before ${after.mkString(",")} after ${again.mkString(",")}")
    }
  }
}

// ============================================================= corpus_dedup

object CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val RecallFloor = 0.9
  val PrecisionFloor = 0.95

  def spec(nDocs: Int): Gen.CorpusSpec = Gen.CorpusSpec(nDocs = nDocs,
    vocab = 20000, wordSkew = 1.0, lenMedian = 80, lenSpread = 0.6,
    exactShare = 0.05, nearShare = 0.08, nearMaxCopies = 3,
    nearRate = (0.01, 0.04), farShare = 0.04, farRate = (0.35, 0.5),
    junkShare = 0.02)

  /** Docs of the bulk sample and of the increment; the tiny set-up input
    * has a thirtieth of each. */
  val BulkDocs = 6000
  val IncDocs = 300

  def sizeTag: String = s"b$BulkDocs-i$IncDocs"

  private var bulkDocs = 0
  private var truth: Gen.Corpus = _

  def prepare(spark: SparkSession, in: String, seed: Long, tiny: Boolean): String = {
    val scale = if (tiny) 30 else 1
    val bulk = Gen.corpus(spec(BulkDocs / scale), sub(seed, 0))
    val inc = Gen.corpus(spec(IncDocs / scale), sub(seed, 1))
    Gen.write(spark, bulk.rows, Gen.CorpusSchema, s"$in/bulk")
    Gen.write(spark, inc.rows, Gen.CorpusSchema, s"$in/inc")
    truth = bulk
    bulkDocs = bulk.rows.size
    val dg = new Gen.Digest
    dg.add(bulk.digest)
    dg.add(inc.digest)
    dg.hex
  }

  /** The dedup pipeline: quality filter → exact dedup → MinHash pairs →
    * star connected components → one doc per cluster, to parquet. */
  def dedup(ctx: Ctx, src: String, out: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val docs = spark.read.parquet(src)
    val good = t.materialized(spark, "ext.quality_filter") {
      TextAnalysis.qualityScore(docs, "text")
        .filter(col("quality_score") >= 0.5).select("doc_id", "text")
    }
    val unique = t.materialized(spark, "ext.exact_dedup") {
      val keep = DedupOps.exactDedupHashed(good, "text", "doc_id")
      good.join(keep, good("doc_id") === keep("keep_id"), "left_semi")
    }
    val pairs = t.materialized(spark, "ext.minhash_pairs") {
      DedupOps.minhashPairs(unique, "doc_id", "text")
    }
    t.span(spark, "ext.star_cc") {
      val labels = DedupOps.dedupClustersStar(pairs, "doc_a", "doc_b")
      val dropped = labels.filter(col("id") =!= col("cluster_id"))
      unique.join(dropped, unique("doc_id") === dropped("id"), "left_anti")
        .write.mode("overwrite").parquet(out)
    }
  }

  /** The schedule alternates an increment and a bulk sample; the increment
    * goes first, so the first bulk sample of the window runs warm. A window
    * ends after a bulk sample, so it holds as many of each. */
  def minSteps: Int = 2
  override def canStop(i: Int): Boolean = i % 2 == 1

  def step(ctx: Ctx, in: String, i: Int): Unit = {
    ctx.hygiene()
    if (i % 2 == 1) {
      ctx.timed("bulk")(dedup(ctx, s"$in/bulk", ctx.dir("dedup", "out_bulk")))
      ctx.record("bulk_docs", bulkDocs)
    } else ctx.timed("round")(dedup(ctx, s"$in/inc", ctx.dir("dedup", "out_inc")))
  }

  /** Duplicate-removal precision and recall against the planted truth:
    * a true cluster of m docs should lose m-1; removals beyond that, or
    * of docs with no planted duplicate, are false removals. */
  def score(g: Gen.Corpus, kept: Set[Long]): (Double, Double) = {
    val clusters = g.truth.filter { case (id, _) => !g.junk(id) }
      .groupBy(_._2).values.map(_.keys.toSeq)
    var shouldRemove, removed, correct = 0L
    clusters.foreach { ids =>
      val m = ids.size
      val gone = ids.count(id => !kept(id))
      shouldRemove += m - 1
      removed += gone
      correct += math.min(m - 1, gone)
    }
    (if (shouldRemove == 0) 1.0 else correct.toDouble / shouldRemove,
      if (removed == 0) 1.0 else correct.toDouble / removed)
  }

  def checks(ctx: Ctx, in: String, last: Int): Unit = {
    val kept = ctx.spark.read.parquet(ctx.dir("dedup", "out_bulk")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val (recall, precision) = score(truth, kept)
    val junkKept = truth.junk.count(kept)
    ctx.quality("dedup_recall") = recall
    ctx.quality("dedup_precision") = precision
    ctx.check("dedup.recall_floor")(
      (recall >= RecallFloor, f"recall $recall%.4f floor $RecallFloor"))
    ctx.check("dedup.precision_floor")(
      (precision >= PrecisionFloor, f"precision $precision%.4f floor $PrecisionFloor"))
    ctx.check("dedup.junk_filtered")((junkKept == 0, s"$junkKept junk docs kept"))
  }
}

// ========================================================== index_serve_cdc

object IndexServeCdc extends Workload {
  val name = "index_serve_cdc"
  val K = 10
  val KCentroids = 8
  val RecallFloor = 0.6

  def spec(tiny: Boolean): Gen.IndexSpec =
    Gen.IndexSpec(nBase = if (tiny) 200 else 1500, vocab = 5000, wordSkew = 1.0,
      docLen = 30, dim = 32, centers = 16, noise = 0.35,
      rounds = 4, newPerRound = 40, reembedPerRound = 10,
      deletePerRound = 5, queriesPerRound = 1,
      queryTermSkew = 1.1, compactEvery = 2)

  /** One turn: build the served index, then its four rounds, with both
    * legs compacted after every second round. Three more builds go to a
    * spare root between rounds for more build samples. */
  sealed trait Op
  case object Build extends Op
  case object SpareBuild extends Op
  final case class Round(j: Int) extends Op
  case object Compact extends Op
  val Turn: Seq[Op] = Seq(Build, Round(0), SpareBuild, Round(1), Compact,
    SpareBuild, SpareBuild, Round(2), Round(3), Compact)

  private var input: Gen.IndexInput = _
  private val qSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  def prepare(spark: SparkSession, in: String, seed: Long, tiny: Boolean): String = {
    val sp = spec(tiny)
    require(sp.rounds == Turn.count(_.isInstanceOf[Round]) &&
      Turn.indexOf(Compact) == Turn.indexOf(Round(sp.compactEvery - 1)) + 1)
    input = Gen.index(sp, seed)
    Gen.write(spark, input.base, Gen.DocSchema, s"$in/base")
    input.changes.zipWithIndex.foreach { case (rows, i) =>
      Gen.write(spark, rows, Gen.ChangeSchema, s"$in/changes/r$i")
    }
    input.digest
  }

  def queryFrame(spark: SparkSession, q: Gen.Query): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(Row(q.id, q.vec)), qSchema)

  /** Land round `i`'s change file in the stream's source directory
    * (copy under a hidden name, then an atomic rename). */
  def land(in: String, i: Int, changesDir: String): Unit = {
    val part = new File(s"$in/changes/r$i").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    new File(changesDir).mkdirs()
    val tmp = new File(changesDir, s".r$i.tmp")
    java.nio.file.Files.copy(part.toPath, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.move(tmp.toPath, new File(changesDir, s"r$i.parquet").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def segments(spark: SparkSession, path: String, table: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    IndexManifest.latest(fs, path).map(_.segs(table).length).getOrElse(0)
  }

  /** The bulk operation: build both index legs concurrently (they are
    * independent, and the engine's own gates build them so), then pin. */
  def build(ctx: Ctx, base: DataFrame, root: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (bm25, ivf, pins) = paths(root)
    ctx.timed("bulk") {
      val legs = Seq(
        () => t.span(spark, "ext.bm25_build")(
          TextAnalysis.saveBm25Index(base, "doc_id", "text", bm25)),
        () => t.span(spark, "ext.ivf_build")(
          Similarity.saveIvfIndex(base, "doc_id", "embedding", ivf,
            kCentroids = KCentroids, iters = 2)))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = legs.map(f => new Thread(() =>
        try f() catch { case e: Throwable => errs.add(e) }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      Hybrid.commitPin(spark, pins, bm25, ivf)
    }
  }

  def paths(root: String): (String, String, String) =
    (s"$root/bm25", s"$root/ivf", s"$root/pins")

  def sizeTag: String = { val s = spec(tiny = false)
    s"n${s.nBase}-r${s.rounds}" }

  def minSteps: Int = 2
  /** A window ends after round 2 or 3 of a turn: earlier ends would let a
    * slower run stop after the first compaction with fewer samples. */
  override def canStop(i: Int): Boolean = Turn(i % Turn.size) match {
    case Round(j) => j >= 2
    case _ => false
  }

  def step(ctx: Ctx, in: String, i: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val turn = i / Turn.size
    val root = ctx.dir("idx", s"t$turn")
    val (bm25, ivf, pins) = paths(root)
    Turn(i % Turn.size) match {
      case Build =>
        ctx.harness {
          if (turn > 0) Files.delete(ctx.dir("idx", s"t${turn - 1}"))
          Files.delete(root)
        }
        ctx.hygiene()
        build(ctx, spark.read.parquet(s"$in/base"), root)
      case SpareBuild =>
        ctx.harness(Files.delete(ctx.dir("idx", "spare")))
        ctx.hygiene()
        build(ctx, spark.read.parquet(s"$in/base"), ctx.dir("idx", "spare"))
      case Round(j) =>
        val qframes = ctx.harness(input.queries(j).map(q => q -> queryFrame(spark, q)))
        ctx.hygiene()
        val r0 = System.nanoTime()
        ctx.timed("cdc_batch")(t.span(spark, "streaming.cdc_batch") {
          land(in, j, s"$root/changes")
          StreamIndex.dualCdcWriter(spark, s"$root/changes",
              Gen.ChangeSchema, bm25, ivf, pins, "doc_id", "text", "embedding", "op")
            .option("checkpointLocation", s"$root/ckpt").start()
            .awaitTermination()
        })
        if (t.enabled) ctx.gauge("sinks.index_segments",
          (segments(spark, bm25, "postings") + segments(spark, ivf, "corpus")) / 2.0)
        for ((q, qdf) <- qframes) {
          ctx.timed("serve")(t.span(spark, "ext.hybrid_serve") {
            Hybrid.servePinned(spark, pins, bm25, q.terms, q.id, ivf, qdf,
              "doc_id", "embedding", kLex = K, kVec = K, k = K).collect()
          })
        }
        ctx.record("round", (System.nanoTime() - r0) / 1e9)
      case Compact =>
        ctx.hygiene()
        ctx.timed("compact")(t.span(spark, "ext.compact") {
          TextAnalysis.compactBm25Index(spark, bm25)
          Similarity.compactIvfIndex(spark, ivf)
          Hybrid.vacuumPinned(spark, pins, bm25, ivf)
          Hybrid.commitPin(spark, pins, bm25, ivf)
        })
        if (t.enabled) ctx.gauge("sinks.index_mb",
          (Files.bytes(bm25) + Files.bytes(ivf)) / 1e6)
    }
  }

  /** A ranked list as (id, score), ordered by score then id. */
  private def ranked(df: DataFrame, id: String, score: String): Seq[(Long, Double)] =
    df.select(col(id), col(score)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy { case (i, sc) => (-sc, i) }

  /** Reciprocal-rank fusion of ranked id lists, as Similarity.rrfFuseN
    * computes it (c = 60, ties by id). */
  def rrf(lists: Seq[Seq[Long]], k: Int, c: Int = 60): Seq[Long] =
    lists.flatMap(_.zipWithIndex.map { case (id, r) => id -> 1.0 / (r + 1 + c) })
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .sortBy { case (id, sc) => (-sc, id) }.take(k).map(_._1)

  def checks(ctx: Ctx, in: String, last: Int): Unit = {
    val spark = ctx.spark
    val (bm25, ivf, pins) = paths(ctx.dir("idx", s"t${last / Turn.size}"))
    // the doc set after the last round of the served index's turn
    val rounds = Turn.take(last % Turn.size + 1).count(_.isInstanceOf[Round])
    val liveDir = ctx.dir("idx", "live")
    Files.delete(liveDir)
    spark.createDataFrame(java.util.Arrays.asList(input.lives(rounds - 1): _*),
        Gen.DocSchema)
      .coalesce(1).write.parquet(liveDir)
    val live = spark.read.parquet(liveDir)
    val scratch = ctx.dir("idx", "scratch_bm25")
    TextAnalysis.saveBm25Index(live, "doc_id", "text", scratch)
    // the streamed index against a from-scratch build of that doc set and
    // against the exact functions over it
    val q = input.queries.flatten.head
    val qdf = queryFrame(spark, q)
    val lexIdx = ranked(TextAnalysis.queryBm25Index(spark, bm25, q.terms, K), "doc_id", "score")
    val lexExact = ranked(TextAnalysis.bm25TopK(live, "doc_id", "text", q.terms, K),
      "doc_id", "score")
    val brute = ranked(Similarity.bruteForceTopK(live, qdf, "doc_id", "embedding", K),
      "vec_id", "cos")
    ctx.check("index.bm25_converges_to_scratch_build") {
      val lexScratch = ranked(TextAnalysis.queryBm25Index(spark, scratch, q.terms, K),
        "doc_id", "score")
      (lexIdx == lexScratch, s"index $lexIdx scratch $lexScratch")
    }
    ctx.check("index.bm25_matches_bm25TopK")(
      (lexIdx == lexExact, s"index $lexIdx bm25TopK $lexExact"))
    ctx.check("index.ivf_full_probe_matches_brute_force") {
      val ivfAll = ranked(Similarity.queryIvfIndex(spark, ivf, qdf, "doc_id", "embedding", K,
        nprobe = KCentroids), "vec_id", "cos")
      (ivfAll == brute, s"ivf $ivfAll brute force $brute")
    }
    val served = Hybrid.servePinned(spark, pins, bm25, q.terms, q.id, ivf, qdf,
      "doc_id", "embedding", kLex = K, kVec = K, k = K)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fused = rrf(Seq(lexExact.map(_._1), brute.map(_._1)), K)
    val recall = fused.count(served).toDouble / fused.size
    ctx.quality("serve_recall") = recall
    ctx.check("index.serve_recall_floor")(
      (recall >= RecallFloor, f"recall $recall%.4f floor $RecallFloor"))
    ctx.quality("index_space_ratio") =
      (Files.bytes(bm25) + Files.bytes(ivf)).toDouble / Files.bytes(liveDir)
  }
}
