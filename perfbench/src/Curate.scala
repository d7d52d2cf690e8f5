package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.operators.{Dedup, MemoStats, Similarity}

/** One generated corpus version with the answers the benchmark derives
  * itself. Docs are 50 words from a seeded vocabulary (about 300
  * characters); about 2 % are exact copies of an earlier doc and about
  * 6 % are variants of an earlier original with 1 to 3 words replaced.
  * Embeddings are 16-dimensional Gaussians; about 5 % are near-identical
  * copies of an earlier vector. */
final class CorpusVersion(val docs: Vector[(Long, String)],
                          val groups: Vector[Vector[Long]],
                          val vecs: Vector[(Long, Array[Float])],
                          val vecCopies: Vector[Long],
                          scoreSeed: Long) {
  val text: Map[Long, String] = docs.toMap
  private val shingleCache = mutable.Map.empty[Long, Set[String]]

  /** Word 3-shingles with the program's semantics: split on single
    * spaces, one shingle for a doc shorter than three words. */
  def shingles(id: Long): Set[String] = shingleCache.getOrElseUpdate(id, {
    val w = text(id).split(" ", -1)
    (0 until math.max(w.length - 2, 1)).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  })

  def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val i = x.count(y.contains)
    i.toDouble / (x.size + y.size - i).toDouble
  }

  /** Exact dedup keeps the smallest id of each distinct text. */
  lazy val keptIds: Set[Long] = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet

  /** Planted near-duplicate pairs among kept docs at or above `t`. */
  def plantedPairs(t: Double): Set[(Long, Long)] =
    groups.flatMap { g =>
      val ids = g.filter(keptIds).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size
           if jaccard(ids(i), ids(j)) >= t) yield (ids(i), ids(j))
    }.toSet

  def score(id: Long): Double = ((KvGen.mix(scoreSeed ^ id) >>> 11) % 1000).toDouble

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    d / math.sqrt(na * nb)
  }
}

object CorpusVersion {
  val Words = 50

  def vocabulary(seed: Long, size: Int): Vector[String] = {
    val r = new SplittableRandom(seed)
    Iterator.continually {
      (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct.take(size).toVector
  }

  def generate(seed: Long, vocab: Vector[String], nDocs: Int, nVecs: Int): CorpusVersion = {
    val r = new SplittableRandom(seed)
    val docs = mutable.ArrayBuffer.empty[(Long, Array[String])]
    val originals = mutable.ArrayBuffer.empty[Int]
    val groups = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
    (0 until nDocs).foreach { j =>
      val u = r.nextDouble()
      if (j > 10 && u < 0.02) docs += (j.toLong -> docs(r.nextInt(j))._2)
      else if (j > 10 && u < 0.08) {
        val base = originals(r.nextInt(originals.size))
        val w = docs(base)._2.clone()
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          val p = r.nextInt(Words)
          var x = vocab(r.nextInt(vocab.size))
          while (x == w(p)) x = vocab(r.nextInt(vocab.size))
          w(p) = x
        }
        docs += (j.toLong -> w)
        groups.getOrElseUpdate(base, mutable.ArrayBuffer(base.toLong)) += j
      } else {
        docs += (j.toLong -> Array.fill(Words)(vocab(r.nextInt(vocab.size))))
        originals += j
      }
    }
    val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val copies = mutable.ArrayBuffer.empty[Long]
    (0 until nVecs).foreach { j =>
      if (j > 10 && r.nextDouble() < 0.05) {
        val base = vecs(r.nextInt(j))._2
        vecs += (j.toLong -> base.map(x => (x + 1e-3 * r.nextGaussian()).toFloat))
        copies += j
      } else vecs += (j.toLong -> Array.fill(16)(r.nextGaussian().toFloat))
    }
    new CorpusVersion(docs.map { case (id, w) => id -> w.mkString(" ") }.toVector,
      groups.values.map(_.toVector).toVector, vecs.toVector, copies.toVector, seed)
  }
}

/** corpus-curate: one curation run per fresh corpus version:
  * exact dedup, MinHash near-dup pairs, their clusters, the best doc of
  * each cluster, then semantic dedup of the version's embeddings. */
final class CorpusCurate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  import spark.implicits._

  val kinds = Seq("curate")
  def kindAt(i: Int): String = "curate"

  private val Docs = 3000
  private val Vecs = 1500
  private val Threshold = 0.7
  private val VecThreshold = 0.995
  private val vocab = CorpusVersion.vocabulary(KvGen.mix(ctx.seed * 31 + 3), 4096)
  private var first: (CorpusVersion, String, String) = _
  private var last: (CorpusVersion, String) = _

  private def versionSeed(i: Int) = KvGen.mix(ctx.seed * 1000003L + i)

  /** Generates version `i` and writes it to fresh parquet paths. */
  private def materialize(i: Int, tag: String): (CorpusVersion, String, String) = {
    val v = CorpusVersion.generate(versionSeed(i), vocab, Docs, Vecs)
    val docsPath = ctx.dir(s"corpus/$tag/docs.parquet")
    val vecsPath = ctx.dir(s"corpus/$tag/vecs.parquet")
    v.docs.toDF("id", "text").write.parquet(docsPath)
    v.vecs.map { case (id, x) => (id, x.toSeq) }.toDF("id", "vec").write.parquet(vecsPath)
    (v, docsPath, vecsPath)
  }

  def setup(rep: Int): Unit = first = materialize(0, s"setup$rep")

  val warmOps = 2

  def op(kind: String, i: Int): Op = {
    val (v, docsPath, vecsPath) =
      if (i == 0) first else materialize(i, if (i < 0) s"w${-i}" else s"v$i")
    var keptIds: Array[Long] = null
    var pairs: Array[Row] = null
    var clusters: Array[Row] = null
    var best: Array[Row] = null
    var census: Array[Row] = null
    val touches0 = MemoStats.touches.get
    val obs = mutable.Map.empty[String, Double]
    new Op(kind, () => {
      val docs = spark.read.parquet(docsPath)
      val kept = Dedup.dropExactDuplicates(docs, "text", "id")
      keptIds = tracer.span("dedup.exact")(kept.select(col("id")).as[Long].collect())
      pairs = tracer.span("dedup.near_dup") {
        Dedup.minhashNearDupAuto(kept, "text", "id", Threshold)
          .select(col("doc_a"), col("doc_b")).collect()
      }
      val pairFrame = pairs.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("doc_a", "doc_b")
      clusters = tracer.span("dedup.components")(Dedup.nearDupClusters(pairFrame).collect())
      best = tracer.span("dedup.best") {
        Dedup.bestOfCluster(clusters.toSeq
          .map(r => (r.getLong(1), r.getLong(0), v.score(r.getLong(0))))
          .toDF("cluster_id", "doc_id", "score")).collect()
      }
      census = tracer.span("similarity.semantic_dedup") {
        Similarity.semanticDedup(spark.read.parquet(vecsPath), Vecs / 40, 2, VecThreshold).collect()
      }
    }, () => {
      obs("memo_touches") = (MemoStats.touches.get - touches0).toDouble
      val errs = check(v, keptIds, pairs, clusters, best, census, obs)
      last = (v, docsPath)
      errs
    }, obs)
  }

  private def check(v: CorpusVersion, keptIds: Array[Long], pairs: Array[Row],
                    clusters: Array[Row], best: Array[Row], census: Array[Row],
                    obs: mutable.Map[String, Double]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (keptIds.toSet != v.keptIds || keptIds.length != v.keptIds.size)
      errs += s"exact dedup kept ${keptIds.length} docs, expected ${v.keptIds.size}"

    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq
    got.find { case (a, b) => !(a < b && v.keptIds(a) && v.keptIds(b)) }
      .foreach(p => errs += s"near-dup pair $p is not an ordered pair of kept docs")
    got.find { case (a, b) => v.jaccard(a, b) < Threshold }
      .foreach { case (a, b) => errs += f"near-dup pair ($a,$b) has Jaccard ${v.jaccard(a, b)}%.4f < $Threshold" }
    if (got.distinct.size != got.size) errs += "near-dup pairs repeat"
    val planted = v.plantedPairs(Threshold)
    obs("near_dup_recall") = if (planted.isEmpty) 1.0 else planted.count(got.toSet).toDouble / planted.size
    obs("verified_pairs") = got.size.toDouble

    // components: every doc of a reported pair labelled with the smallest
    // id reachable through reported pairs
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    got.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantCluster = parent.keys.toSeq.map(x => x -> find(x)).toMap
    val gotCluster = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (gotCluster != wantCluster || clusters.length != wantCluster.size)
      errs += s"clusters differ from the components of the reported pairs " +
        s"(${gotCluster.size} docs labelled, expected ${wantCluster.size})"

    val wantBest = wantCluster.groupBy(_._2).map { case (c, members) =>
      val keep = members.keys.toSeq.sortBy(id => (-v.score(id), id)).head
      c -> (keep, members.size.toLong)
    }
    val gotBest = best.map(r => r.getAs[Long]("cluster_id") ->
      (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_members"))).toMap
    if (gotBest != wantBest) errs += "best-of-cluster keepers differ from the score argmax"

    // semantic dedup: within each reported cluster a vector is dropped
    // exactly when a smaller-id cluster-mate sits at cosine >= threshold
    val vec = v.vecs.toMap
    val rows = census.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    if (rows.map(_._1).toSet != vec.keySet || rows.length != vec.size)
      errs += s"semantic census has ${rows.length} rows for ${vec.size} vectors"
    else {
      val byCluster = rows.groupBy(_._2)
      val wrong = rows.count { case (id, c, kept) =>
        val dup = byCluster(c).exists { case (o, _, _) =>
          o < id && v.cosine(vec(o), vec(id)) >= VecThreshold }
        (kept == 0) != dup
      }
      if (wrong > 0) errs += s"semantic dedup kept/dropped $wrong vectors against the keep-first rule"
      val dropped = rows.filter(_._3 == 0).map(_._1).toSet
      obs("planted_recall") =
        if (v.vecCopies.isEmpty) 1.0 else v.vecCopies.count(dropped).toDouble / v.vecCopies.size
    }
    errs.toSeq
  }

  def layerMetrics(records: Seq[OpRecord]): Map[String, Double] = {
    def med(name: String) = {
      val xs = tracer.durations(name)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    // candidate volume of the banding the chooser picks for the last version
    val (v, docsPath) = last
    val kept = Dedup.dropExactDuplicates(spark.read.parquet(docsPath), "text", "id")
    val (bands, _) = Dedup.lshParamsFor(64, Threshold, v.keptIds.size.toLong)
    val candidates = Dedup.minhashCandidates(kept, "text", "id", 3, 64, bands).count().toDouble
    val verified = records.lastOption.map(_.obs("verified_pairs")).getOrElse(0.0)
    Map(
      "dedup.exact_s" -> med("dedup.exact"),
      "dedup.near_dup_s" -> med("dedup.near_dup"),
      "dedup.components_s" -> med("dedup.components"),
      "dedup.candidate_pairs" -> candidates,
      "dedup.verified_pair_ratio" -> (if (candidates == 0) 0.0 else verified / candidates),
      "dedup.near_dup_recall" -> Probe.mean(records.flatMap(_.obs.get("near_dup_recall"))),
      "dedup.memo_touches" -> Probe.mean(records.map(_.obs("memo_touches"))),
      "similarity.semantic_dedup_s" -> med("similarity.semantic_dedup"),
      "similarity.planted_recall" -> Probe.mean(records.flatMap(_.obs.get("planted_recall"))))
  }

  override def notes(records: Seq[OpRecord]): Seq[String] = Seq(
    f"near-dup recall of planted pairs ${Probe.mean(records.flatMap(_.obs.get("near_dup_recall")))}%.4f, " +
      f"semantic recall of planted copies ${Probe.mean(records.flatMap(_.obs.get("planted_recall")))}%.4f")

  def close(): Unit = ()
}
