package graft.perfbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything is drawn from one
  * `SplittableRandom(seed)` in a fixed order on one thread, so a seed
  * names one input exactly; `digest` is a SHA-256 over every generated
  * row in generation order (checked by `Main gen-selftest`).
  *
  * The properties each workload varies are listed in perfbench/README.md
  * ("Inputs"). */
object Gen {

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def u(): Double = r.nextDouble()
    def int(n: Int): Int = r.nextInt(n)
    def gauss(): Double = {
      // Box-Muller on two uniforms (SplittableRandom has no nextGaussian
      // on every JDK this runs on)
      val a = math.max(u(), 1e-12)
      math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * u())
    }
  }

  /** Zipf(s) over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.u())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(row: Row): Unit = add(row.toSeq.map {
      case xs: Seq[_] => xs.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("\u0001"))
    def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  // ------------------------------------------------------------ etl_daily

  /** @param days0 backfilled days; @param pulls daily pulls after it.
    * Each pull re-emits the previous day restated and the new day. */
  final case class EtlSpec(days0: Int, pulls: Int, eventsPerDay: Int,
      ads0: Int, newAdsPerDay: Int, adSkew: Double, restateShare: Double)

  final case class EtlInput(backfill: Seq[Row], pulls: Seq[Seq[Row]],
      finalHistory: Seq[Row], digest: String)

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val EventTypes = Seq("view" -> 0.58, "click" -> 0.25,
    "signup" -> 0.08, "purchase" -> 0.06, "error" -> 0.03)
  private val Cities = Seq("recife", "olinda", "natal", "salvador", "belem")
  private val Day0 = java.time.LocalDate.of(2026, 1, 1)

  def etl(spec: EtlSpec, seed: Long): EtlInput = {
    val r = new Rng(seed)
    val nDays = spec.days0 + spec.pulls
    var nextEvent = 1L
    val original = Array.tabulate(nDays) { d =>
      val pool = spec.ads0 + d * spec.newAdsPerDay
      val zipf = new Zipf(pool, spec.adSkew)
      val dayStart = Day0.plusDays(d).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli
      // the newest ads take the Zipf head, so each day's new ads appear
      val rows = (0 until spec.eventsPerDay).map { _ =>
        val ad = pool - 1 - zipf.sample(r)
        val x = r.u()
        val et = EventTypes.scanLeft(("", 0.0)) { case ((_, c), (t, p)) =>
          (t, c + p) }.tail.find(_._2 > x).map(_._1).getOrElse("view")
        val value = if (et == "click") math.round((0.05 + r.u() * 2.0) * 100) / 100.0
          else 0.0
        val props = if (et == "signup")
          s"""{"city":"${Cities(r.int(Cities.size))}","score":${r.int(100)}}"""
          else "{}"
        val ts = new Timestamp(dayStart + r.int(86400000))
        (ad.toLong, ts, et, value, props)
      }.sortBy(_._2.getTime)
      rows.map { case (ad, ts, et, v, p) =>
        val id = nextEvent; nextEvent += 1
        Row(id, ts, ad, et, v, p)
      }
    }
    // restatement: a share of each day's click spend is revised the next
    // day; event ids, types and keys stay, so only measures change
    val restated = original.map(_.map { row =>
      if (row.getString(3) == "click" && r.u() < spec.restateShare)
        Row(row.getLong(0), row.get(1), row.getLong(2), row.getString(3),
          math.round(row.getDouble(4) * (0.7 + 0.6 * r.u()) * 100) / 100.0,
          row.getString(5))
      else row
    })
    val backfill = original.take(spec.days0).flatten.toSeq
    val pulls = (1 to spec.pulls).map { j =>
      val d = spec.days0 + j - 1
      restated(d - 1) ++ original(d)
    }
    val finalHistory = (0 until nDays).flatMap { d =>
      if (d == nDays - 1 || d < spec.days0 - 1) original(d) else restated(d)
    }
    val dg = new Digest
    backfill.foreach(dg.add)
    pulls.foreach { p => dg.add("pull"); p.foreach(dg.add) }
    EtlInput(backfill, pulls, finalHistory, dg.hex)
  }

  // --------------------------------------------------------- text corpus

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Vocabulary: the eight English stopwords take the Zipf head, then
    * pseudo-words spelled from a seed-shuffled syllable alphabet. */
  final class Vocab(size: Int, r: Rng) {
    private val syl = {
      val s = (for (c <- "bcdfgklmnprstvz"; v <- "aeiou") yield s"$c$v").toArray
      for (i <- s.indices.reverse) {
        val j = r.int(i + 1); val t = s(i); s(i) = s(j); s(j) = t
      }
      s
    }
    val words: Array[String] = Stopwords.toArray ++
      Array.tabulate(size - Stopwords.size) { i =>
        var n = i + syl.length
        val b = new StringBuilder
        while (n > 0) { b.append(syl(n % syl.length)); n /= syl.length }
        b.toString
      }
  }

  def text(words: Seq[String]): String =
    words.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

  final case class CorpusSpec(nDocs: Int, vocab: Int, wordSkew: Double,
      lenMedian: Int, lenSpread: Double, exactShare: Double,
      nearShare: Double, nearMaxCopies: Int, nearRate: (Double, Double),
      farShare: Double, farRate: (Double, Double), junkShare: Double)

  /** rows: (doc_id, text); truth: doc_id → planted cluster id (a doc's
    * own id when it has no planted duplicate); junk docs are expected to
    * fail the quality filter. */
  final case class Corpus(rows: Seq[Row], truth: Map[Long, Long],
      junk: Set[Long], digest: String)

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def corpus(spec: CorpusSpec, seed: Long): Corpus = {
    val r = new Rng(seed)
    val v = new Vocab(spec.vocab, r)
    val zipf = new Zipf(spec.vocab, spec.wordSkew)
    def doc(): Vector[String] = {
      val len = math.max(12, math.min(800,
        math.round(spec.lenMedian * math.exp(spec.lenSpread * r.gauss())).toInt))
      Vector.fill(len)(v.words(zipf.sample(r)))
    }
    def mutate(ws: Vector[String], p: Double): Vector[String] =
      ws.map(w => if (r.u() < p) v.words(zipf.sample(r)) else w)
    def rate(lohi: (Double, Double)) = lohi._1 + r.u() * (lohi._2 - lohi._1)
    // (text, planted group, junk?) in generation order; ids assigned by
    // a seeded permutation so clusters are not id-contiguous
    val out = mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    var group = 0
    while (out.size < spec.nDocs) {
      val x = r.u()
      group += 1
      if (x < spec.junkShare) {
        out += ((Seq.fill(1 + r.int(3))("!?" * (1 + r.int(4))).mkString(" ") +
          s" ${v.words(8 + r.int(spec.vocab - 8))}", group, true))
      } else {
        val base = doc()
        out += ((text(base), group, false))
        if (x < spec.junkShare + spec.exactShare)
          (1 to 1 + r.int(2)).foreach(_ => out += ((text(base), group, false)))
        else if (x < spec.junkShare + spec.exactShare + spec.nearShare)
          (1 to 1 + r.int(spec.nearMaxCopies)).foreach(_ =>
            out += ((text(mutate(base, rate(spec.nearRate))), group, false)))
        else if (x < spec.junkShare + spec.exactShare + spec.nearShare +
            spec.farShare) {
          group += 1 // far variant: a distinct document by the truth
          out += ((text(mutate(base, rate(spec.farRate))), group, false))
        }
      }
    }
    val n = out.size
    val perm = Array.tabulate(n)(identity)
    for (i <- (n - 1) to 1 by -1) {
      val j = r.int(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val ids = perm.map(_.toLong)
    val rows = out.indices.map(i => Row(ids(i), out(i)._1))
    val firstOfGroup = mutable.HashMap.empty[Int, Long]
    out.indices.foreach(i => firstOfGroup.getOrElseUpdate(out(i)._2, ids(i)))
    val truth = out.indices.map(i => ids(i) -> firstOfGroup(out(i)._2)).toMap
    val junk = out.indices.filter(i => out(i)._3).map(ids(_)).toSet
    val dg = new Digest
    rows.foreach(dg.add)
    Corpus(rows, truth, junk, dg.hex)
  }

  // ------------------------------------------------------ index_serve_cdc

  final case class IndexSpec(nBase: Int, vocab: Int, wordSkew: Double,
      docLen: Int, dim: Int, centers: Int, noise: Double, rounds: Int,
      newPerRound: Int, reembedPerRound: Int, deletePerRound: Int,
      queriesPerRound: Int, queryTermSkew: Double, compactEvery: Int)

  final case class Query(id: Long, terms: Seq[String], vec: Seq[Double])

  /** base: (doc_id, text, embedding); changes: per round (doc_id, text,
    * embedding, op) with op ∈ upsert|delete; lives: the doc set after
    * each round. */
  final case class IndexInput(base: Seq[Row], changes: Seq[Seq[Row]],
      queries: Seq[Seq[Query]], lives: Seq[Seq[Row]], digest: String)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))
  val ChangeSchema: StructType =
    DocSchema.add(StructField("op", StringType))

  def index(spec: IndexSpec, seed: Long): IndexInput = {
    val r = new Rng(seed)
    val v = new Vocab(spec.vocab, r)
    val zipf = new Zipf(spec.vocab, spec.wordSkew)
    val centers = Array.fill(spec.centers)(Array.fill(spec.dim)(r.gauss()))
    def vec(c: Int): Seq[Double] =
      centers(c).toSeq.map(x => math.round((x + spec.noise * r.gauss()) * 1e6) / 1e6)
    // a doc's topic picks both its vector cluster and a topic word band,
    // so the lexical and vector legs agree on what is near
    def doc(id: Long): Row = {
      val c = r.int(spec.centers)
      val len = math.max(8, (spec.docLen * (0.5 + r.u())).toInt)
      val ws = Seq.fill(len) {
        if (r.u() < 0.25) v.words(8 + c * 40 + r.int(40))
        else v.words(zipf.sample(r))
      }
      Row(id, text(ws), vec(c))
    }
    val live = mutable.LinkedHashMap.empty[Long, Row]
    val base = (0 until spec.nBase).map(i => doc(i.toLong))
    base.foreach(row => live(row.getLong(0)) = row)
    var nextId = spec.nBase.toLong
    val termZipf = new Zipf(spec.vocab - 8, spec.queryTermSkew)
    def pick(): Long = {
      val ks = live.keysIterator.toIndexedSeq
      ks(r.int(ks.size))
    }
    val changes = mutable.ArrayBuffer.empty[Seq[Row]]
    val lives = mutable.ArrayBuffer.empty[Seq[Row]]
    val queries = mutable.ArrayBuffer.empty[Seq[Query]]
    var qid = 0L
    for (_ <- 0 until spec.rounds) {
      val touched = mutable.LinkedHashSet.empty[Long]
      while (touched.size < spec.reembedPerRound + spec.deletePerRound)
        touched += pick()
      val (re, del) = touched.toSeq.splitAt(spec.reembedPerRound)
      val batch = (0 until spec.newPerRound).map { _ =>
        nextId += 1; doc(nextId - 1)
      } ++ re.map(doc)
      val rows = batch.map(d => Row(d.getLong(0), d.getString(1), d.getSeq(2),
        "upsert")) ++ del.map(id => Row(id, null, null, "delete"))
      batch.foreach(d => live(d.getLong(0)) = d)
      del.foreach(live.remove)
      changes += rows
      lives += live.values.toSeq
      queries += (0 until spec.queriesPerRound).map { _ =>
        val terms = Seq.fill(2 + r.int(2))(v.words(8 + termZipf.sample(r))).distinct
        val near = live(pick()).getSeq[Double](2)
        qid += 1
        Query(1000000L + qid, terms,
          near.map(x => math.round((x + 0.05 * r.gauss()) * 1e6) / 1e6))
      }
    }
    val dg = new Digest
    base.foreach(dg.add)
    changes.foreach { c => dg.add("round"); c.foreach(dg.add) }
    queries.flatten.foreach(q => dg.add(s"${q.id}|${q.terms}|${q.vec}"))
    IndexInput(base, changes.toSeq, queries.toSeq, lives.toSeq, dg.hex)
  }

  /** Write `rows` as one parquet file set at `path` (skipped when a
    * complete copy is already cached there). */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit = {
    val p = new java.io.File(path)
    if (new java.io.File(p, "_SUCCESS").exists()) return
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}
