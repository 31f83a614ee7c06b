package graft.ext

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.{IndexManifest, PipelinePin}
import graft.sources.Tables

/** [[Hybrid.dualAppend]] overlaps its BM25 and IVF legs. A failed leg
  * must surface only after its sibling has settled (so the retry never
  * races a manifest commit) and a replay must converge to the
  * from-scratch indexes; every leg's jobs must carry the CALLER's
  * current Spark local properties, call after call. */
class DualAppendSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.load(spark, Sf0001, "documents")
  lazy val embs = Tables.load(spark, Sf0001, "embeddings")
  private val terms = Seq("hash", "join", "merge")

  private def fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
    spark.sessionState.newHadoopConf())

  /** Base BM25 + IVF indexes over ids < 150 and their first pin. */
  private def build(): (String, String, String) = {
    val base = Files.createTempDirectory("graft-dualappend-").toString
    val (bidx, vidx, pins) = (s"$base/bm25", s"$base/ivf", s"$base/pins")
    TextAnalysis.saveBm25Index(docs.filter(col("doc_id") < 150),
      "doc_id", "text", bidx)
    Similarity.saveIvfIndex(embs.filter(col("vec_id") < 150), "vec_id",
      "embedding", vidx, kCentroids = 4, iters = 2)
    Hybrid.commitPin(spark, pins, bidx, vidx)
    (bidx, vidx, pins)
  }

  private def append(bidx: String, vidx: String, pins: String,
      lo: Long, hi: Long, batchId: String, vecCol: String = "embedding")
      : PipelinePin.Pin =
    Hybrid.dualAppend(spark, pins, bidx,
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi), "doc_id",
      "text", vidx,
      embs.filter(col("vec_id") >= lo && col("vec_id") < hi), "vec_id",
      vecCol, batchId)

  private def bm25Rows(path: String) =
    TextAnalysis.queryBm25Index(spark, path, terms, 10)
      .select("doc_id", "n_terms", "score")
      .as[(Long, Long, Double)].collect().toSeq

  /** Exhaustive probe (nprobe = every centroid): exact kNN, so an
    * appended index and a from-scratch one answer identically. */
  private def ivfRows(path: String) = {
    val q = embs.filter(col("vec_id") < 3)
    val df = Similarity.queryIvfIndex(spark, path, q, "vec_id",
      "embedding", k = 5, nprobe = 4)
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq
  }

  test("a failed IVF leg surfaces only after the BM25 leg committed; " +
      "the replay converges to the from-scratch indexes") {
    val (bidx, vidx, pins) = build()
    val pin0 = PipelinePin.latest(fs, pins).get
    intercept[org.apache.spark.sql.AnalysisException](
      append(bidx, vidx, pins, 150, 300, "b1", vecCol = "no_such_col"))
    // the sibling settled before the error reached us: its manifest
    // already records the batch, and no pin named the torn pair
    assert(IndexManifest.latest(fs, bidx).get.applied.contains("b1"))
    assert(!IndexManifest.latest(fs, vidx).get.applied.contains("b1"))
    assert(PipelinePin.latest(fs, pins).get == pin0)
    // replay with the corrected input: BM25 no-ops, IVF lands, pin last
    append(bidx, vidx, pins, 150, 300, "b1")
    assert(IndexManifest.latest(fs, vidx).get.applied.contains("b1"))
    val full = Files.createTempDirectory("graft-dualappend-full-").toString
    TextAnalysis.saveBm25Index(docs.filter(col("doc_id") < 300),
      "doc_id", "text", s"$full/bm25")
    Similarity.saveIvfIndex(embs.filter(col("vec_id") < 300), "vec_id",
      "embedding", s"$full/ivf", kCentroids = 4, iters = 2)
    assert(bm25Rows(bidx) == bm25Rows(s"$full/bm25"))
    assert(ivfRows(vidx) == ivfRows(s"$full/ivf"))
  }

  test("every leg job carries the caller's current job description, " +
      "across consecutive dualAppend calls") {
    val (bidx, vidx, pins) = build()
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    // the listener bus delivers in order: once a marker job started
    // after the call is seen, every job the call started has been too
    def jobsOf(call: => Unit): Seq[String] = {
      val marker = s"marker-${System.nanoTime()}"
      seen.clear()
      call
      sc.setJobDescription(marker)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker), "listener never saw the marker job")
      seen.asScala.toSeq.takeWhile(_ != marker)
    }
    sc.addSparkListener(listener)
    try {
      val calls = Seq(("b1", 150L, 200L), ("b2", 200L, 250L))
        .map { case (b, lo, hi) =>
          val desc = s"dual-append-$b"
          desc -> jobsOf {
            sc.setJobDescription(desc)
            append(bidx, vidx, pins, lo, hi, b)
          }
        }
      for ((desc, jobs) <- calls) {
        assert(jobs.nonEmpty, s"$desc ran no jobs")
        assert(jobs.forall(_ == desc), s"$desc legs ran under: " +
          jobs.distinct.mkString(", "))
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }
}
