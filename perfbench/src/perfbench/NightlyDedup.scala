package perfbench

import graft.ops.{ClusterStore, Inverted, Text, VectorPq}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** `nightly_dedup`: the standing LLM-data stores. The build indexes a
  * seeded base corpus four ways — LSH index, near-duplicate clusters
  * (ClusterStore over dupComponentsStar(minhashPairs)), IVF-PQ vectors and
  * an inverted index. Each step is one night: the write op ingests a seeded
  * slice into all four (probe + append, cluster merge, vector append,
  * postings append; on the nights [[Workload.compacts]] picks, all four
  * compactors run too); the read
  * ops that follow are BM25 searches, vector searches and cluster-label
  * lookups.
  *
  * Documents are word sequences over a small vocabulary, a share of them
  * near-copies of earlier documents so that clusters form and merge.
  * Vectors live on a 1/8 grid, so with m = dim the PQ codebook is lossless
  * and an all-cells search is exact (the x27b construction): its answer
  * must equal a brute-force scan.
  */
final class NightlyDedup(ctx: Ctx) extends Workload {
  import ctx.spark

  private val BaseDocs = 5000
  private val NightDocs = 500
  private val BaseVecs = 2000
  private val NightVecs = 200
  private val Words = 40
  private val Dim = 16
  private val NList = 4
  private val TopK = 10
  private val CompactEvery = 2
  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "vector", "customer", "index",
    "shuffle", "join", "plan")

  private val docs = mutable.ArrayBuffer.empty[(Long, String)]
  private val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private var root = ""
  private def lshDir = s"$root/lsh"
  private def csDir = s"$root/clusters"
  private def pqDir = s"$root/ivfpq"
  private def invDir = s"$root/inverted"

  private def newDocs(r: scala.util.Random, n: Int): Seq[(Long, String)] =
    (0 until n).map { _ =>
      val id = docs.size.toLong
      val text = r.nextInt(10) match {
        // a near-copy: an earlier document with its last word replaced
        case 0 | 1 if docs.nonEmpty =>
          val words = docs(r.nextInt(docs.size))._2.split(" ")
          (words.init :+ Vocab(r.nextInt(Vocab.size))).mkString(" ")
        // an exact copy
        case 2 if docs.nonEmpty => docs(r.nextInt(docs.size))._2
        case _ => Seq.fill(Words)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      }
      docs += id -> text
      id -> text
    }

  private def newVecs(r: scala.util.Random, n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { _ =>
      val v = (vecs.size.toLong, Array.fill(Dim)((r.nextInt(8) - 4) / 8.0f))
      vecs += v
      v
    }

  private def docsDf(d: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(d.map(t => Row(t._1, t._2)), 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def vecsDf(v: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        v.map(t => Row(t._1, t._2.toSeq)), 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))

  def generate(dir: String): Unit = {
    root = dir
    docs.clear()
    vecs.clear()
    docsDf(newDocs(ctx.seeds.rng("docs"), BaseDocs)).write.parquet(s"$root/raw/docs")
    vecsDf(newVecs(ctx.seeds.rng("vecs"), BaseVecs)).write.parquet(s"$root/raw/vecs")
  }

  def build(): Unit = {
    val base = spark.read.parquet(s"$root/raw/docs")
    ctx.span("Text.lshBuild")(Text.lshBuild(base, lshDir))
    val labels = ctx.span("Text.dupComponentsStar")(Text.dupComponentsStar(Text.minhashPairs(base)))
    ctx.span("ClusterStore.init")(ClusterStore.init(labels, csDir))
    ctx.span("VectorPq.pqBuild")(VectorPq.pqBuild(spark.read.parquet(s"$root/raw/vecs"), pqDir,
      nlist = NList, m = Dim, lloydIters = 1))
    ctx.span("Inverted.invBuild")(Inverted.invBuild(base, invDir))
  }

  private def ingest(night: Int, d: DataFrame, v: DataFrame): Unit = {
    val cross = ctx.span("Text.lshProbe")(Text.lshProbe(spark, lshDir, d).collect())
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(
        cross.map(r => Row(r.get(0), r.get(1))).toSeq, 1),
        StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))))
      .unionByName(Text.minhashPairs(d).select("doc_a", "doc_b"))
    ctx.span("Text.lshAppend")(Text.lshAppend(spark, lshDir, d))
    ctx.span("ClusterStore.merge")(ClusterStore.merge(spark, csDir, pairs))
    ctx.span("VectorPq.pqAppend")(VectorPq.pqAppend(spark, pqDir, v))
    ctx.span("Inverted.invAppend")(Inverted.invAppend(spark, invDir, d))
    if (compacts(night, CompactEvery)) {
      ctx.span("Text.lshCompact")(Text.lshCompact(spark, lshDir))
      ctx.span("ClusterStore.compact")(ClusterStore.compact(spark, csDir))
      ctx.span("VectorPq.pqCompact")(VectorPq.pqCompact(spark, pqDir))
      ctx.span("Inverted.invCompact")(Inverted.invCompact(spark, invDir))
    }
  }

  /** Probe vectors: a search takes each probe id once. */
  private def distinctVecs(r: scala.util.Random, n: Int): Seq[(Long, Array[Float])] =
    r.shuffle(vecs.indices.toVector).take(n).map(vecs)

  private def terms(r: scala.util.Random, n: Int): Seq[String] = r.shuffle(Vocab).take(n)

  def step(i: Int): Unit = {
    val r = ctx.seeds.rng("night", i)
    val d = docsDf(newDocs(r, NightDocs))
    val v = vecsDf(newVecs(r, NightVecs))
    ctx.write("night") { ingest(i, d, v); (NightDocs + NightVecs).toLong }
    // seven reads, interleaved by kind: 3 BM25 searches, 2 vector searches,
    // 2 cluster-label lookups; the warmup does one of each
    for (k <- 0 until (if (i == 0) 3 else 7)) k % 3 match {
      case 0 =>
        val ts = terms(r, 2)
        ctx.read("invSearch") {
          ctx.span("Inverted.invSearch")(Inverted.invSearch(spark, invDir, ts).collect())
        }(hits => sameRanking(hits.map(x => (x.getLong(0), x.getDouble(1))).toSeq,
          bm25(ts), ts))
      case 1 =>
        val probes = distinctVecs(r, 4)
        ctx.read("pqSearch") {
          ctx.span("VectorPq.pqSearch")(VectorPq.pqSearch(spark, pqDir, vecsDf(probes),
            nprobe = NList, topK = TopK).collect())
        }(hits => sameNeighbors(hits, probes))
      // the end check covers the labels; a lookup alone has no model here
      case 2 =>
        val ids = Seq.fill(8)(docs(r.nextInt(docs.size))._1)
        ctx.read("ClusterStore.read") {
          ctx.span("ClusterStore.read")(ClusterStore.read(spark, csDir)
            .filter(col("id").isin(ids: _*)).collect())
        }(_ => None)
    }
  }

  /** BM25 over every ingested document, on the driver: Text.bm25's
    * ratio idf, k1 = 1.2, b = 0.75, per-term scores summed in term order,
    * top 20 by (score desc, doc_id asc). */
  private def bm25(terms: Seq[String]): Seq[(Long, Double)] = {
    val (k1, b) = (1.2, 0.75)
    val split = docs.iterator.map { case (id, t) => id -> t.toLowerCase.split(" ", -1) }.toSeq
    val n = split.size.toDouble
    val avgdl = split.map(_._2.count(_.nonEmpty).toLong).sum.toDouble / n
    val tf = split.map { case (id, w) =>
      (id, w.count(_.nonEmpty).toDouble, terms.map(t => t -> w.count(_ == t)).filter(_._2 > 0))
    }
    val df = terms.map(t => t -> tf.count(_._3.exists(_._1 == t)).toDouble).toMap
    tf.filter(_._3.nonEmpty).map { case (id, dl, ts) =>
      id -> ts.sortBy(_._1).foldLeft(0.0) { case (acc, (t, f)) =>
        acc + (n - df(t) + 0.5) / (df(t) + 0.5) * (f * (k1 + 1.0)) /
          (f + k1 * ((1.0 - b) + b * (dl / avgdl)))
      }
    }.sortBy(x => (-x._2, x._1)).take(20)
  }

  private def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      terms: Seq[String]): Option[String] =
    if (got.map(_._1) == want.map(_._1) &&
        got.zip(want).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-9 * math.abs(b._2) })
      None
    else Some(s"top-${want.size} for ${terms.mkString(" ")} differs from BM25")

  /** Brute-force top-k by cosine (desc, id asc), folds in dimension order
    * as the ADC kernel folds them; self matches excluded. */
  private def bruteForce(p: (Long, Array[Float])): Seq[(Long, Double)] = {
    def dot(a: Array[Float], b: Array[Float]) =
      a.indices.foldLeft(0.0)((s, k) => s + a(k).toDouble * b(k).toDouble)
    val pn = math.sqrt(dot(p._2, p._2))
    vecs.iterator.filter(c => c._1 != p._1)
      .map(c => (c._1, math.sqrt(dot(c._2, c._2)), dot(c._2, p._2)))
      .filter(t => t._2 > 0 && pn > 0)
      .map(t => (t._1, t._3 / (t._2 * pn))).toSeq
      .sortBy(t => (-t._2, t._1)).take(TopK)
  }

  private def sameNeighbors(hits: Array[Row], probes: Seq[(Long, Array[Float])]): Option[String] = {
    val got = hits.groupBy(_.getLong(0)).map { case (p, rs) =>
      p -> rs.sortBy(_.getInt(3)).map(x => (x.getLong(1), x.getDouble(2))).toSeq }
    probes.iterator.flatMap { p =>
      val want = bruteForce(p)
      val g = got.getOrElse(p._1, Nil)
      val bad = g.size != want.size || g.zip(want).exists { case (a, b) =>
        a._1 != b._1 || math.abs(a._2 - b._2) > 1e-9 }
      if (bad) Some(s"probe ${p._1}: got ${g.mkString(" ")}; brute force ${want.mkString(" ")}")
      else None
    }.nextOption()
  }

  /** Connected components by union-find, each labelled by its smallest
    * member (dupComponentsStar's labelling), over the pairs' endpoints. */
  private def components(pairs: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toSet
  }

  def check(): Unit = {
    val all = docsDf(docs.toSeq).cache()
    ctx.check("ClusterStore.read equals the components of minhashPairs(all docs)") {
      val got = ClusterStore.read(spark, csDir).select("id", "comp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pairs = Text.minhashPairs(all).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val want = components(pairs)
      if (got == want) None
      else Some(s"${got.size} labels vs ${want.size}; ${(got diff want).size} differ")
    }
    val r = ctx.seeds.rng("check")
    val ts = terms(r, 3)
    ctx.check(s"invSearch(${ts.mkString(" ")}) equals Text.bm25 over all docs") {
      def top(df: DataFrame) = df.select("doc_id", "score").collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      sameRanking(top(Inverted.invSearch(spark, invDir, ts)), top(Text.bm25(all, ts)), ts)
    }
    ctx.check("all-cells pqSearch equals brute force") {
      val probes = distinctVecs(r, 6)
      sameNeighbors(VectorPq.pqSearch(spark, pqDir, vecsDf(probes), nprobe = NList,
        topK = TopK).collect(), probes)
    }
    all.unpersist()
  }

  def dataDirs: Seq[String] = Seq(lshDir, csDir, pqDir, invDir)
  def liveRows: Long = (docs.size + vecs.size).toLong
  def sizes: Seq[(String, String)] = Seq(
    "base_docs" -> BaseDocs.toString, "docs_per_night" -> NightDocs.toString,
    "base_vectors" -> BaseVecs.toString, "vectors_per_night" -> NightVecs.toString,
    "dim" -> Dim.toString, "nlist" -> NList.toString, "compact_every" -> CompactEvery.toString)
  def layers: Seq[(String, Seq[String])] = {
    val pq = Main.SetB :+ "exec_cpu_s"
    Seq("Text.lshBuild" -> Main.SetB, "Text.dupComponentsStar" -> Main.SetB,
      "ClusterStore.init" -> Main.SetB, "VectorPq.pqBuild" -> pq,
      "Inverted.invBuild" -> Main.SetB, "Text.lshProbe" -> Main.SetB,
      "Text.lshAppend" -> Main.SetB, "ClusterStore.merge" -> Main.SetB,
      "VectorPq.pqAppend" -> pq, "Inverted.invAppend" -> Main.SetB,
      "VectorPq.pqSearch" -> pq, "Inverted.invSearch" -> Main.SetB,
      "ClusterStore.read" -> Main.SetB, "Text.lshCompact" -> Main.SetB,
      "ClusterStore.compact" -> Main.SetB, "VectorPq.pqCompact" -> pq,
      "Inverted.invCompact" -> Main.SetB)
  }
}
