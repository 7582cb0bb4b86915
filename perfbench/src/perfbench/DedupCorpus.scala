package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashStorage}

/** Near-duplicate text dedup over a corpus of planted 4-variant clusters.
  *
  * Each cluster is a 24-word text of words drawn fresh from the seed (no
  * shingle is shared across clusters) and variants that change its last
  * word, its first word, or both, so every pair in a cluster has Jaccard
  * ≥ 20/24 and the six pairs of each cluster are the whole answer. In a
  * quarter of the clusters the fourth variant is an exact copy of the
  * first, so the exact-duplicate collapse has work. Each cluster also has
  * a decoy, the base cut to its first 18 words: Jaccard 0.65-0.73 to the
  * variants, so it lands in their LSH buckets and verification must
  * reject it. The batch is 2% of the corpus: half near-copies of corpus
  * clusters, half fresh texts.
  *
  * One pass runs the at-rest path (write the bucketed corpus, all pairs,
  * check the batch) and then the ad-hoc path over the same documents.
  */
final class DedupCorpus(spark: SparkSession, seed: Long, docs: Int,
                        runTag: String) extends Workload {
  import spark.implicits._
  import DedupCorpus.PerCluster

  private val clusters = docs / PerCluster
  private val words = 24
  private val batchDocs = docs / 50
  private val BatchBase = 1000000000L

  def items: Long = clusters.toLong * PerCluster

  private def word(keys: Long*): String =
    "w" + java.lang.Long.toString(Gen.hash(seed, keys: _*) >>> 8, 36)

  private def exactCopy(c: Int): Boolean = Gen.u01(seed, 3, c) < 0.25

  /** Member v of cluster c: v0 the base, v1 new last word, v2 new first
    * word, v3 both (or a copy of v0), v4 the decoy.
    */
  private def variant(c: Int, v: Int): Array[String] = {
    val t = Array.tabulate(words)(i => word(1, c, i))
    if (v == 4) return t.take(18)
    if (v == 3 && exactCopy(c)) return t
    if (v == 1 || v == 3) t(words - 1) = word(2, c, 1)
    if (v == 2 || v == 3) t(0) = word(2, c, 2)
    t
  }

  /** Batch doc j: a near-copy of a corpus cluster (new last word) for even
    * j, a fresh text for odd j.
    */
  private def batchTarget(j: Int): Option[Int] =
    if (j % 2 == 0) Some(((Gen.hash(seed, 4, j) >>> 1) % clusters).toInt) else None

  private def batchText(j: Int): Array[String] = batchTarget(j) match {
    case Some(c) => variant(c, 0).updated(words - 1, word(5, j))
    case None => Array.tabulate(words)(i => word(6, j, i))
  }

  def setup(dir: String): Unit = {
    (0 until clusters).flatMap(c => (0 until PerCluster).map(v =>
      (id(c, v), variant(c, v).mkString(" "))))
      .toDF("doc_id", "text").repartition(8).write.parquet(s"$dir/docs")
    (0 until batchDocs).map(j => (BatchBase + j, batchText(j).mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
  }

  private def shingles(t: Array[String]): Set[String] =
    t.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = (a & b).size
    inter.toDouble / (a.size + b.size - inter)
  }

  private def round6(x: Double) = math.round(x * 1e6) / 1e6

  private def id(c: Int, v: Int): Long = c.toLong * PerCluster + v

  /** Every pair of every cluster at Jaccard ≥ 0.8, computed in plain Scala. */
  private lazy val expectedPairs: Map[(Long, Long), Double] =
    (0 until clusters).flatMap { c =>
      val sh = (0 until PerCluster).map(v => shingles(variant(c, v)))
      for (a <- 0 until PerCluster; b <- a + 1 until PerCluster)
        yield (id(c, a), id(c, b)) -> round6(jaccard(sh(a), sh(b)))
    }.filter(_._2 >= 0.8).toMap

  private lazy val expectedHits: Map[(Long, Long), Double] =
    (0 until batchDocs).flatMap { j =>
      batchTarget(j).toSeq.flatMap { c =>
        val b = shingles(batchText(j))
        (0 until PerCluster).map(v => (BatchBase + j, id(c, v)) ->
          round6(jaccard(b, shingles(variant(c, v)))))
      }
    }.filter(_._2 >= 0.8).toMap

  def pass(in: String, root: String, tr: Tracer): Pass = {
    val table = s"mh_${runTag}_${new java.io.File(root).getName.replace('-', '_')}"
    val corpus = spark.read.parquet(s"$in/docs")
    val batch = spark.read.parquet(s"$in/batch")
    tr.span("dedup.write_bucketed") {
      MinHashStorage.writeBucketed(corpus, "doc_id", "text", table, s"$root/corpus")
    }
    val pairs = tr.span("dedup.pairs") {
      MinHashStorage.pairs(spark, table).as[(Long, Long, Double)].collect()
    }
    val hits = tr.span("dedup.check_batch") {
      MinHashStorage.checkBatch(spark, table, batch).as[(Long, Long, Double)].collect()
    }
    val adhoc = tr.span("dedup.minhash_adhoc") {
      Dedup.minhashLsh(corpus, "doc_id", "text").as[(Long, Long, Double)].collect()
    }
    new DedupPass(table, s"$root/corpus", pairs, hits, adhoc)
  }

  final class DedupPass(val table: String, val outputDir: String,
                        pairs: Array[(Long, Long, Double)],
                        hits: Array[(Long, Long, Double)],
                        adhoc: Array[(Long, Long, Double)]) extends Pass {
    val keptRepPairs: Long = pairs.count { case (a, b, _) => !isCopy(a) && !isCopy(b) }

    def check(): Seq[String] =
      same("at-rest pairs", pairs, expectedPairs) ++
        same("batch hits", hits, expectedHits) ++
        same("ad-hoc pairs", adhoc, expectedPairs)
  }

  private def isCopy(doc: Long): Boolean =
    doc < BatchBase && doc % PerCluster == 3 && exactCopy((doc / PerCluster).toInt)

  private def same(what: String, got: Array[(Long, Long, Double)],
                   want: Map[(Long, Long), Double]): Seq[String] = {
    val gotMap = got.map { case (a, b, j) => (a, b) -> j }.toMap
    val missing = want.keySet -- gotMap.keySet
    val extra = gotMap.keySet -- want.keySet
    val off = want.keySet.intersect(gotMap.keySet)
      .filter(k => math.abs(gotMap(k) - want(k)) > 1e-6)
    Seq(
      (got.length == gotMap.size, s"$what: duplicate rows"),
      (missing.isEmpty, s"$what: ${missing.size} expected pairs missing"),
      (extra.isEmpty, s"$what: ${extra.size} unexpected pairs"),
      (off.isEmpty, s"$what: ${off.size} pairs with the wrong Jaccard")
    ).collect { case (false, msg) => msg }
  }

  /** Verify yield of the at-rest pairs: representative pairs kept over
    * the distinct banded candidates the verify join examined.
    */
  override def counters(pass: Pass): Map[String, Double] = {
    val p = pass.asInstanceOf[DedupPass]
    val candidates = MinHashStorage.candidatePlan(spark, p.table).distinct().count()
    Map("dedup.pairs.verify_yield" -> p.keptRepPairs.toDouble / candidates)
  }

  override def cleanup(pass: Pass): Unit = {
    val t = pass.asInstanceOf[DedupPass].table
    Seq(t, MinHashStorage.shinglesTable(t), MinHashStorage.membersTable(t))
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }
}

object DedupCorpus {
  val Spans: Seq[String] = Seq("dedup.write_bucketed", "dedup.pairs",
    "dedup.check_batch", "dedup.minhash_adhoc")
  /** Four variants and a decoy. */
  val PerCluster = 5
}
