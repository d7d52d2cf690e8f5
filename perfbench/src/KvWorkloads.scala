package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.functions.{Checksum, Crc64}
import graft.operators.{Diff, Gate, Scan}
import graft.sources.kvbin.{KVBin, KVBinChecksum, KVBinServer, KVBinSource, SocketRegionClient}

/** What the two KV workloads share: the generator, range choice, the
  * `graft.Main diff` composition and the checks against planted answers. */
abstract class KvWorkload(ctx: Ctx, salt: Long, val n: Int, divergePpm: Int) extends Workload {
  import KvGen._

  protected val spark = ctx.spark
  protected val tracer = ctx.tracer
  val gen = new KvGen(mix(ctx.seed * 31 + salt), n, divergePpm)
  protected val diffLimit = 100
  /** Expected whole-keyspace triples, computed once by the benchmark. */
  protected lazy val whole: ((Long, Long, Long), (Long, Long, Long)) =
    (gen.triple(0, n, dst = false), gen.triple(0, n, dst = true))

  protected def rng(i: Int): SplittableRandom =
    new SplittableRandom(mix(gen.seed ^ (i.toLong * 0x2545F4914F6CDD1DL)))

  /** A random index range [lo, lo + width). */
  protected def randomRange(i: Int, width: Int): (Int, Int) = {
    val lo = rng(i).nextInt(n - width + 1)
    (lo, lo + width)
  }

  protected def ranged(kv: DataFrame, lo: Int, hi: Int): DataFrame =
    kv.filter(col("key") >= lit(bound(lo)) && col("key") < lit(bound(hi)))

  protected def triple(r: Row, side: String): (Long, Long, Long) =
    (r.getAs[Long](s"${side}_crc64_xor"), r.getAs[Long](s"${side}_total_kvs"),
      r.getAs[Long](s"${side}_total_bytes"))

  /** A verdict row against the expected triples of both sides. */
  protected def checkVerdict(v: Row, lo: Int, hi: Int,
                             want: ((Long, Long, Long), (Long, Long, Long))): Seq[String] = {
    val agrees = gen.plantedIn(lo, hi).isEmpty
    Seq(
      if (triple(v, "src") != want._1) Some(s"src triple ${triple(v, "src")} != expected ${want._1}") else None,
      if (triple(v, "dst") != want._2) Some(s"dst triple ${triple(v, "dst")} != expected ${want._2}") else None,
      if (v.getAs[Boolean]("matches") != agrees) Some(s"verdict ${!agrees} expected $agrees") else None
    ).flatten
  }

  protected def rangeTriples(lo: Int, hi: Int) =
    (gen.triple(lo, hi, dst = false), gen.triple(lo, hi, dst = true))

  /** `graft.Main diff`, over the whole keyspace or a key range: the
    * first `diffLimit` differing pairs in key order, then the per-class
    * counts. */
  protected def diffOp(src: () => DataFrame, dst: () => DataFrame,
                       range: Option[(Int, Int)]): Op = {
    val (lo, hi) = range.getOrElse((0, n))
    var rows: Array[Row] = null
    var counts: Array[Row] = null
    new Op("diff", () => {
      val (s, d) = range.fold((src(), dst())) { _ => (ranged(src(), lo, hi), ranged(dst(), lo, hi)) }
      rows = Diff.diff(s, d).orderBy(col("key")).limit(diffLimit)
        .select(upper(hex(col("key"))).as("key_hex"),
          upper(hex(col("src_value"))).as("src_hex"),
          upper(hex(col("dst_value"))).as("dst_hex"), col("diff_class"))
        .collect()
      counts = Diff.diffCounts(s, d).collect()
    }, () => {
      val got = counts.map(r => r.getString(0) -> r.getLong(1)).toMap
      val planted = gen.plantedIn(lo, hi)
      val want = planted.groupBy(_._2).map { case (c, xs) => className(c) -> xs.size.toLong }
      val expectRows = planted.take(diffLimit).map { case (idx, c) =>
        (hexOf(gen.key(idx)),
          if (c == DstOnly) null else hexOf(gen.value(idx, dst = false)),
          if (c == SrcOnly) null else hexOf(gen.value(idx, dst = true)), className(c))
      }
      val gotRows = rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      Seq(
        if (got != want) Some(s"diff counts $got != planted $want") else None,
        if (gotRows != expectRows)
          Some(s"first ${expectRows.size} diff rows differ from the planted set " +
            s"(got ${gotRows.size} rows)") else None
      ).flatten
    })
  }

  /** Direct calls into the checksum functions (traced run). */
  protected def functionProbes(src: DataFrame): Map[String, Double] = {
    val batch = (0 until 4000).map(j => (gen.key(j), gen.value(j, dst = false)))
    val bytes = batch.map(p => p._1.length + p._2.length).sum
    val crcNs = (0 until 15).map { _ =>
      val t0 = System.nanoTime()
      batch.foreach(p => Probe.sink ^= Crc64.crc64(p._1, p._2))
      (System.nanoTime() - t0).toDouble / bytes
    }
    val persisted = src.persist(StorageLevel.MEMORY_ONLY)
    persisted.write.format("noop").mode("overwrite").save()
    val agg = Probe.medianSeconds(3)(Checksum.of(persisted).head())
    persisted.unpersist(blocking = true)
    Map("functions.crc64_ns_per_byte" -> Stats.median(crcNs.drop(5)),
      "functions.checksum_agg_s" -> agg)
  }

  /** `Diff.diff` over persisted frames, and its shuffle per diff op. */
  protected def diffProbes(src: DataFrame, dst: DataFrame,
                           records: Seq[OpRecord]): Map[String, Double] = {
    val (s, d) = (src.persist(StorageLevel.MEMORY_ONLY), dst.persist(StorageLevel.MEMORY_ONLY))
    Seq(s, d).foreach(_.write.format("noop").mode("overwrite").save())
    val join = Probe.medianSeconds(3)(
      Diff.diff(s, d).write.format("noop").mode("overwrite").save())
    s.unpersist(blocking = true); d.unpersist(blocking = true)
    Map("diff.join_s" -> join,
      "diff.shuffle_bytes" -> Probe.mean(records.filter(_.kind == "diff")
        .flatMap(_.spark).map(_.shuffleWrite.toDouble)))
  }
}

object Probe {
  /** Keeps timed pure calls from being optimized away. */
  @volatile var sink = 0L

  def medianSeconds(reps: Int)(body: => Any): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** kv-parquet: `graft.Main checksum|diff|scan` over two near-identical
  * range-partitioned parquet snapshots. */
final class KvParquet(ctx: Ctx) extends KvWorkload(ctx, salt = 1, n = KvParquet.Pairs,
    divergePpm = 100) {
  import KvGen._

  val kinds = Seq("verdict", "range_verdict", "diff", "scan_dump")
  // the short kinds run twice per `diff`, so every kind gets a steady median
  private val cycle = Seq("verdict", "range_verdict", "scan_dump", "diff", "verdict",
    "range_verdict", "scan_dump")
  def kindAt(i: Int): String = cycle(i % cycle.size)

  private var srcDir, dstDir = ""
  private def read(dir: String) = spark.read.parquet(dir).select(col("key"), col("value"))
  private def src() = read(srcDir)
  private def dst() = read(dstDir)

  def setup(rep: Int): Unit = {
    srcDir = ctx.dir(s"rep$rep/src.parquet")
    dstDir = ctx.dir(s"rep$rep/dst.parquet")
    gen.frame(spark, dst = false, KvParquet.Files).write.parquet(srcDir)
    gen.frame(spark, dst = true, KvParquet.Files).write.parquet(dstDir)
  }

  /** `graft.Main checksum`: the API-version gate, then the verdict. */
  private def checksumOp(kind: String, range: Option[(Int, Int)]): Op = {
    val (lo, hi) = range.getOrElse((0, n))
    def want = if (range.isEmpty) whole else rangeTriples(lo, hi)
    var v: Row = null
    val obs = mutable.Map.empty[String, Double]
    new Op(kind, () => {
      val (s, d) = range.fold((src(), dst())) { _ => (ranged(src(), lo, hi), ranged(dst(), lo, hi)) }
      val gate = Gate.check(s, d).head()
      require(gate.getAs[Boolean]("compatible"), s"api version mismatch: $gate")
      v = Checksum.verdict(s, d).head()
    }, () => {
      val w = want
      obs("rows_in_range") = (w._1._2 + w._2._2).toDouble
      checkVerdict(v, lo, hi, w)
    }, obs)
  }

  val warmOps = 14

  def op(kind: String, i: Int): Op = kind match {
    case "verdict" => checksumOp(kind, None)
    case "range_verdict" => checksumOp(kind, Some(randomRange(i, n / 64)))
    case "diff" => diffOp(() => src(), () => dst(), None)
    case "scan_dump" =>
      val (lo, hi) = randomRange(i, n / 16)
      val out = ctx.dir(s"dumps/op$i")
      var path = ""
      val obs = mutable.Map.empty[String, Double]
      new Op(kind, () => {
        path = Scan.writeHexDump(ranged(src(), lo, hi), out, "src", timestamp = "t")
      }, () => {
        val errs = checkDump(path, lo, hi)
        obs("rows") = (lo until hi).count(gen.inSide(_, dst = false)).toDouble
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
        errs
      }, obs)
  }

  /** The dump holds one line per src key of the range, `cnt` 1..m in key
    * order, each with the right key and value. */
  private def checkDump(path: String, lo: Int, hi: Int): Seq[String] = {
    val files = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
    val Line = "key:([0-9A-F]*), value:([0-9A-F]*), cnt:([0-9]+)\\.".r
    val lines = files.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().toVector finally src.close()
    }
    val parsed = lines.collect { case Line(k, v, c) => (c.toLong, k, v) }.sortBy(_._1)
    val want = (lo until hi).filter(gen.inSide(_, dst = false))
    if (parsed.size != lines.size) Seq(s"${lines.size - parsed.size} malformed dump lines")
    else if (parsed.size != want.size) Seq(s"dump has ${parsed.size} lines, expected ${want.size}")
    else {
      val bad = parsed.zip(want).zipWithIndex.find { case (((c, k, v), idx), j) =>
        c != j + 1 || k != hexOf(gen.key(idx)) || v != hexOf(gen.value(idx, dst = false))
      }
      bad.map { case (((c, _, _), idx), j) =>
        s"dump line ${j + 1} (cnt $c) is not the pair of index $idx in key order"
      }.toSeq
    }
  }

  def layerMetrics(records: Seq[OpRecord]): Map[String, Double] = {
    val ranges = records.filter(_.kind == "range_verdict")
    val dumps = records.filter(_.kind == "scan_dump")
    val (lo, hi) = randomRange(-100, n / 16)
    val part = ranged(src(), lo, hi).persist(StorageLevel.MEMORY_ONLY)
    Probe.noop(part)
    val dumpSort = Probe.medianSeconds(3)(Probe.noop(Scan.hexDumpWithCnt(part)))
    part.unpersist(blocking = true)
    functionProbes(src()) ++ diffProbes(src(), dst(), records) ++ Map(
      "sources.scan_s" -> Probe.medianSeconds(3)(Probe.noop(src())),
      "sources.rows_read_per_row_in_range" -> Probe.mean(ranges.flatMap(r =>
        r.spark.map(_.recordsRead / r.obs("rows_in_range")))),
      "scan.dump_sort_s" -> dumpSort,
      "scan.bytes_written_per_row" -> Probe.mean(dumps.flatMap(r =>
        r.spark.map(_.bytesWritten / r.obs("rows")))))
  }

  def close(): Unit = ()
}

object KvParquet {
  val Pairs = 100000
  val Files = 32
}

/** kv-wire: the same generator stored as kvbin regions and served over
  * loopback: src by a two-store fleet, dst by one store. Divergent. */
final class KvWire(ctx: Ctx) extends KvWorkload(ctx, salt = 2, n = KvWire.Pairs,
    divergePpm = 30000) {
  import KvGen._

  val kinds = Seq("verdict", "range_verdict", "diff", "replicate")
  // the short kinds run more often, so every kind gets a steady median
  private val cycle = Seq("verdict", "range_verdict", "replicate", "verdict", "range_verdict",
    "diff", "verdict", "range_verdict", "replicate")
  def kindAt(i: Int): String = cycle(i % cycle.size)

  private val fmt = classOf[KVBinSource].getName
  private var srcDir, dstDir = ""
  private var srcStores, dstStores, destStores = Seq.empty[KVBinServer]
  private var readRelays, writeRelays = Seq.empty[Relay]
  private var srcEps, dstEps, destEps = ""
  private var regions = 0

  /** Client addresses: a byte-counting relay in front of each store in
    * the traced run, the stores themselves otherwise. */
  private def endpoints(stores: Seq[KVBinServer]): (String, Seq[Relay]) =
    if (!ctx.traced) (stores.map(_.address).mkString(","), Nil)
    else {
      val rs = stores.map(s => new Relay(s.address))
      (rs.map(_.address).mkString(","), rs)
    }

  private def read(eps: String) = spark.read.format(fmt).option("endpoints", eps).load()

  def setup(rep: Int): Unit = {
    close()
    val conf = spark.sessionState.newHadoopConf()
    srcDir = ctx.dir(s"rep$rep/src.kvbin")
    dstDir = ctx.dir(s"rep$rep/dst.kvbin")
    val srcRegions = KVBin.write(gen.frame(spark, dst = false, 8), srcDir, KvWire.Regions).map(_._1)
    val dstRegions = KVBin.write(gen.frame(spark, dst = true, 8), dstDir, KvWire.Regions)
    regions = srcRegions.size + dstRegions.size
    def parity(id: String) = id.filter(_.isDigit).toLong % 2
    srcStores = Seq(new KVBinServer(srcDir, conf, parity(_) == 0),
      new KVBinServer(srcDir, conf, parity(_) == 1))
    dstStores = Seq(new KVBinServer(dstDir, conf))
    val split = bound(n / 2)
    val (destA, destB) = (ctx.dir(s"rep$rep/dest-a"), ctx.dir(s"rep$rep/dest-b"))
    Seq(destA, destB).foreach(d => new java.io.File(d).mkdirs())
    destStores = Seq(
      new KVBinServer(destA, conf, ownsRange = Some((Array.emptyByteArray, split))),
      new KVBinServer(destB, conf, ownsRange = Some((split, Array.emptyByteArray))))
    val (s, sr) = endpoints(srcStores)
    val (d, dr) = endpoints(dstStores)
    val (w, wr) = endpoints(destStores)
    srcEps = s; dstEps = d; destEps = w
    readRelays = sr ++ dr; writeRelays = wr
  }

  private def counters(stores: Seq[KVBinServer]): Seq[Long] =
    Seq(stores.map(_.scanRequests.get).sum, stores.map(_.checksumRequests.get).sum,
      stores.map(_.putRequests.get).sum, stores.map(_.commitRequests.get).sum)

  /** Adds the op's RPC and relay-byte counts to its observations. */
  private def observed(op: Op): Op = {
    val all = srcStores ++ dstStores ++ destStores
    val reads = srcStores ++ dstStores
    val c0 = counters(all)
    val r0 = counters(reads)
    val b0 = readRelays.map(_.bytes).sum
    new Op(op.kind, op.run, () => {
      Seq("rpc_scan", "rpc_checksum", "rpc_put", "rpc_commit").zip(counters(all).zip(c0))
        .foreach { case (k, (a, b)) => op.obs(k) = (a - b).toDouble }
      val r = counters(reads).zip(r0).map { case (a, b) => a - b }
      op.obs("read_region_requests") = (r(0) + r(1)).toDouble
      op.obs("read_relay_bytes") = (readRelays.map(_.bytes).sum - b0).toDouble
      op.check()
    }, op.obs)
  }

  val warmOps = 15

  def op(kind: String, i: Int): Op = observed(kind match {
    case "verdict" =>
      var v: Row = null
      new Op(kind, () => {
        v = Checksum.verdictConcurrentFromTriples(
          KVBinChecksum.pushed(spark, srcDir, Some(srcEps)),
          KVBinChecksum.pushed(spark, dstDir, Some(dstEps))).head()
      }, () => checkVerdict(v, 0, n, whole))
    case "range_verdict" =>
      val (lo, hi) = randomRange(i, n / 64)
      var v: Row = null
      new Op(kind, () => {
        v = Checksum.verdict(ranged(read(srcEps), lo, hi), ranged(read(dstEps), lo, hi)).head()
      }, () => checkVerdict(v, lo, hi, rangeTriples(lo, hi)))
    case "diff" => diffOp(() => read(srcEps), () => read(dstEps), None)
    case "replicate" =>
      // a random 1/8 of the keyspace that straddles the destination
      // fleet's split, so both destination stores receive regions
      val w = n / 8
      val lo = n / 2 - w + 1 + rng(i).nextInt(w - 1)
      val hi = lo + w
      var v: Row = null
      var writeS = 0.0
      val obs = mutable.Map.empty[String, Double]
      new Op(kind, () => {
        val t0 = System.nanoTime()
        tracer.span("kvbin.write") {
          ranged(read(srcEps), lo, hi).write.format(fmt).option("endpoints", destEps)
            .option("ranges", "4").option("api_version", "V1").mode("overwrite").save()
        }
        writeS = (System.nanoTime() - t0) / 1e9
        v = tracer.span("replicate.verify") {
          Checksum.verdict(ranged(read(srcEps), lo, hi), read(destEps)).head()
        }
      }, () => {
        val want = gen.triple(lo, hi, dst = false)
        obs("write_mb_per_s") = want._3 / 1e6 / writeS
        Seq(
          if (!v.getAs[Boolean]("matches")) Some("replica checksum differs from its src range") else None,
          if (triple(v, "src") != want) Some(s"src range triple ${triple(v, "src")} != expected $want") else None
        ).flatten
      }, obs)
  })

  def layerMetrics(records: Seq[OpRecord]): Map[String, Double] = {
    def perOp(k: String) = Probe.mean(records.map(_.obs.getOrElse(k, 0.0)))
    val ranges = records.filter(_.kind == "range_verdict")
    val (lo, hi) = randomRange(-100, n / 64)
    val plan = Probe.medianSeconds(5)(ranged(read(srcEps), lo, hi).queryExecution.executedPlan)
    // single-region calls straight to a store, without the relay
    val client = new SocketRegionClient(srcStores.head.address)
    val ids = client.listRegions().map(_.id).take(8)
    val t0 = System.nanoTime()
    val scanned = ids.map(id => client.scanRegion(id).map(p => p._1.length + p._2.length).sum.toLong).sum
    val scanS = (System.nanoTime() - t0) / 1e9
    val cksum = Stats.median(ids.flatMap(id => (0 until 2).map { _ =>
      val t = System.nanoTime(); client.checksumRegion(id); (System.nanoTime() - t) / 1e9
    }))
    functionProbes(read(srcEps)) ++ diffProbes(read(srcEps), read(dstEps), records) ++ Map(
      "sources.scan_s" -> Probe.medianSeconds(3)(Probe.noop(read(srcEps))),
      "kvbin.plan_s" -> plan,
      "kvbin.regions_touched_ratio" -> Probe.mean(ranges.map(_.obs("read_region_requests") / regions)),
      "kvbin.rpc_scan" -> perOp("rpc_scan"), "kvbin.rpc_checksum" -> perOp("rpc_checksum"),
      "kvbin.rpc_put" -> perOp("rpc_put"), "kvbin.rpc_commit" -> perOp("rpc_commit"),
      "kvbin.wire_bytes_per_region" -> {
        val reqs = records.map(_.obs.getOrElse("read_region_requests", 0.0)).sum
        if (reqs == 0) 0.0 else records.map(_.obs.getOrElse("read_relay_bytes", 0.0)).sum / reqs
      },
      "kvbin.scan_region_mb_per_s" -> scanned / 1e6 / scanS,
      "kvbin.checksum_region_s" -> cksum,
      "kvbin.write_mb_per_s" -> Probe.mean(records.filter(_.kind == "replicate")
        .map(_.obs("write_mb_per_s"))))
  }

  def close(): Unit = {
    (readRelays ++ writeRelays).foreach(_.close())
    (srcStores ++ dstStores ++ destStores).foreach(_.close())
    readRelays = Nil; writeRelays = Nil; srcStores = Nil; dstStores = Nil; destStores = Nil
  }
}

object KvWire {
  val Pairs = 100000
  val Regions = 64
}
