package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** One prepared operation of a workload. `run` is the timed call into
  * the program; `check` verifies its output afterwards, untimed, and
  * returns the failures it found. Checks may add observations (counter
  * deltas, row counts) to `obs` for the per-layer metrics. */
final class Op(val kind: String, val run: () => Unit, val check: () => Seq[String],
               val obs: mutable.Map[String, Double] = mutable.Map.empty)

final case class OpRecord(kind: String, seconds: Double, ok: Boolean,
                          spark: Option[SparkCounters], storageAfter: Double,
                          obs: Map[String, Double])

/** What a workload sees of the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
                val tracer: Tracer) {
  def traced: Boolean = tracer.enabled
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d.getParent)
    d.toString
  }
}

trait Workload extends AutoCloseable {
  def kinds: Seq[String]
  /** Generates and materializes the inputs and starts any servers;
    * each call replaces the inputs of the previous one. */
  def setup(rep: Int): Unit
  /** The kind of the i-th operation of the closed loop. */
  def kindAt(i: Int): String
  /** The i-th operation; warm-up operations have negative `i`. */
  def op(kind: String, i: Int): Op
  /** Untimed warm-up operations before the loop, in the loop's order. */
  def warmOps: Int
  /** Workload-specific per-layer metrics of the traced run, including
    * direct calls into single layers, made after the loop. */
  def layerMetrics(records: Seq[OpRecord]): Map[String, Double]
  /** Lines describing what the run observed beyond the metrics. */
  def notes(records: Seq[OpRecord]): Seq[String] = Nil
}

object Main {

  /** Per-layer metrics in reporting order, with units. A metric of a
    * layer the workload does not use reads 0. */
  val layerUnits: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.rows_read_per_row_in_range" -> "ratio",
    "functions.crc64_ns_per_byte" -> "ns/B", "functions.checksum_agg_s" -> "s",
    "kvbin.plan_s" -> "s", "kvbin.regions_touched_ratio" -> "ratio",
    "kvbin.rpc_scan" -> "count", "kvbin.rpc_checksum" -> "count",
    "kvbin.rpc_put" -> "count", "kvbin.rpc_commit" -> "count",
    "kvbin.wire_bytes_per_region" -> "B", "kvbin.scan_region_mb_per_s" -> "MB/s",
    "kvbin.checksum_region_s" -> "s", "kvbin.write_mb_per_s" -> "MB/s",
    "diff.join_s" -> "s", "diff.shuffle_bytes" -> "B",
    "scan.dump_sort_s" -> "s", "scan.bytes_written_per_row" -> "B",
    "dedup.exact_s" -> "s", "dedup.near_dup_s" -> "s", "dedup.components_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pair_ratio" -> "ratio",
    "dedup.near_dup_recall" -> "ratio", "dedup.memo_touches" -> "count",
    "similarity.semantic_dedup_s" -> "s", "similarity.planted_recall" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.gc_ms" -> "ms",
    "spark.storage_bytes_after_op" -> "B", "jvm.heap_after_gc_mb" -> "MB")

  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val code =
      try run(args)
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  private def flags(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --flag value pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected a --flag, got $k"); k.drop(2) -> v
    }.toMap
  }

  private def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(args: Array[String]): Int = {
    val mainEntryMs = System.currentTimeMillis()
    val f = flags(args)
    val workload = f("workload")
    val seed = f("seed").toLong
    val seconds = f("seconds").toInt
    val traced = f("trace") == "1"
    val work = Paths.get(f("work")).toAbsolutePath
    val state = Paths.get(f("state")).toAbsolutePath
    val jvmStartS = sys.props.get("perfbench.launchedMs")
      .map(l => (mainEntryMs - l.toLong) / 1e3).getOrElse(0.0)

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsOf(t0)

    val tracer = new Tracer(traced)
    val listener = if (traced) Some(new BenchListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    def drained(): Option[SparkCounters] = listener.map { l =>
      PerfbenchBridge.drainListenerBus(spark.sparkContext); l.snapshot
    }
    def storageBytes(): Double = {
      val sc = spark.sparkContext
      val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      mem.toDouble + sc.getRDDStorageInfo.map(_.diskSize).sum.toDouble
    }

    val ctx = new Ctx(spark, seed, work, tracer)
    val wl: Workload = workload match {
      case "kv-parquet" => new KvParquet(ctx)
      case "kv-wire" => new KvWire(ctx)
      case "corpus-curate" => new CorpusCurate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val records = mutable.ArrayBuffer.empty[OpRecord]
    val warm = mutable.ArrayBuffer.empty[OpRecord]
    def runOp(kind: String, i: Int, into: mutable.ArrayBuffer[OpRecord]): Unit = {
      val op = wl.op(kind, i)
      tracer.beginOp(i)
      val before = drained()
      val s0 = System.nanoTime()
      val thrown =
        try { tracer.span(kind)(op.run()); None }
        catch { case NonFatal(e) => Some(e) }
      val sec = secondsOf(s0)
      val after = drained()
      val errors = thrown match {
        case Some(e) => Seq(s"threw $e")
        case None =>
          try op.check()
          catch { case NonFatal(e) => Seq(s"check threw $e") }
      }
      if (errors.nonEmpty)
        System.err.println(s"perfbench: op $i ($kind) FAILED: ${errors.take(5).mkString("; ")}")
      else System.err.println(f"perfbench: op $i ($kind) $sec%.3f s")
      into += OpRecord(kind, sec, errors.isEmpty,
        for (a <- after; b <- before) yield a - b,
        if (traced) storageBytes() else 0.0, op.obs.toMap)
    }

    val setupS = try {
      val reps = (0 until SetupReps).map { r =>
        val s0 = System.nanoTime()
        wl.setup(r)
        secondsOf(s0)
      }
      // untimed, checked full-size operations: the JIT compiles the
      // query-planning, scheduling and data paths before the loop is timed
      val w0 = System.nanoTime()
      for (j <- 0 until wl.warmOps) runOp(wl.kindAt(j), -1 - j, warm)
      val warmS = secondsOf(w0)
      System.err.println(f"perfbench: jvm ${jvmStartS}%.3f s, session ${sessionS}%.3f s, " +
        s"setup reps ${reps.map(r => f"$r%.3f").mkString(" ")} s, " + f"warm-up $warmS%.3f s")
      jvmStartS + sessionS + Stats.median(reps) + warmS
    } catch {
      case NonFatal(e) => wl.close(); spark.stop(); throw e
    }

    // Retained heap and block-manager bytes, taken after a fixed amount of
    // work (the set-ups and the warm-up): the loop runs as many operations
    // as fit in --seconds, and the memos keep entries per operation, so an
    // end-of-loop figure would follow the program's speed. Spark's context
    // cleaner drops the blocks of collected frames on its own thread after
    // a GC; the figure is taken once the block manager stops shrinking.
    var stored = -1.0
    var still = 0
    var polls = 0
    while (still < 3 && polls < 50) {
      System.gc(); Thread.sleep(100)
      val now = storageBytes()
      still = if (now == stored) still + 1 else 0
      stored = now; polls += 1
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val storageMb = storageBytes() / 1048576.0

    val loop0 = System.nanoTime()
    val deadline = loop0 + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) {
      runOp(wl.kindAt(i), i, records)
      i += 1
    }
    val loopS = secondsOf(loop0)

    val all = warm ++ records
    val failed = all.count(!_.ok)
    val byKind = wl.kinds.map(k => k -> records.filter(_.kind == k).map(_.seconds).toSeq)
      .filter(_._2.nonEmpty)
    val kindStats = byKind.map { case (k, xs) => k -> (Stats.median(xs), Stats.tail(xs)) }

    val layer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val own = wl.layerMetrics(records.toSeq)
        def perOp(f: SparkCounters => Double): Double = {
          val xs = records.flatMap(_.spark).map(f)
          if (xs.isEmpty) 0.0 else xs.sum / xs.size
        }
        tracer.addExternal("spark.job", listener.get.drainJobSpans())
        own ++ Map(
          "spark.jobs" -> perOp(_.jobs.toDouble), "spark.stages" -> perOp(_.stages.toDouble),
          "spark.tasks" -> perOp(_.tasks.toDouble), "spark.plan_ms" -> perOp(_.planMs.toDouble),
          "spark.executor_run_ms" -> perOp(_.runMs.toDouble),
          "spark.executor_cpu_ms" -> perOp(_.cpuMs),
          "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
          "spark.spill_bytes" -> perOp(_.spill.toDouble), "spark.gc_ms" -> perOp(_.gcMs.toDouble),
          "spark.storage_bytes_after_op" ->
            (if (records.isEmpty) 0.0 else records.map(_.storageAfter).sum / records.size))
      }
    val notes = wl.notes(records.toSeq)

    val end0 = System.nanoTime()
    wl.close()
    spark.stop()
    System.err.println(f"perfbench: loop ${loopS}%.3f s, teardown ${secondsOf(end0)}%.3f s")

    val out = System.out
    kindStats.foreach { case (k, (p50, (tail, pct, n))) =>
      out.println(f"perfbench: $k%-14s n=$n%4d p50=$p50%.4f s tail=$tail%.4f s (p${pct}%.1f)")
    }
    notes.foreach(n => out.println(s"perfbench: $n"))
    val attempted = all.size
    val failedRatio = failed.toDouble / math.max(1, attempted)
    // the per-operation-kind metrics by name; each workload runs a subset
    val perKind = kindStats.flatMap { case (k, (p50, (tail, pct, n))) => Seq(
      s"${k}_p50_s" -> Map("value" -> p50, "unit" -> "s", "samples" -> n),
      s"${k}_tail_s" -> Map("value" -> tail, "unit" -> "s", "samples" -> n,
        "percentile" -> pct))
    }.toMap
    out.println("perfbench-detail " + Stats.json(perKind ++ Map(
      "failed_op_ratio" -> Map("value" -> failedRatio, "unit" -> "ratio"),
      "storage_retained_mb" -> Map("value" -> storageMb, "unit" -> "MB"),
      "loop_s" -> Map("value" -> loopS, "unit" -> "s"))))

    val opP50 = Stats.geomean(kindStats.map(_._2._1))
    val statePath = state.resolve(s"$workload-untraced.json")
    val metrics: Map[String, (Double, String)] =
      if (!traced) {
        Files.createDirectories(state)
        Files.writeString(statePath, Stats.json(kindStats.map { case (k, (p50, _)) => k -> p50 }.toMap))
        Map(
          "setup_s" -> (setupS, "s"),
          "op_p50_s" -> (opP50, "s"),
          "op_tail_s" -> (Stats.geomean(kindStats.map(_._2._2._1)), "s"),
          "heap_retained_mb" -> (heapMb, "MB"))
      } else {
        val spansPath = state.resolve(s"spans-$workload-seed$seed.json")
        tracer.writeJson(spansPath)
        tracer.summary.take(12).foreach { case (name, n, total, self) =>
          out.println(f"perfbench-span $name%-28s n=$n%5d total=$total%9.3f s self=$self%9.3f s")
        }
        out.println(s"perfbench: spans written to $spansPath")
        overheadLine(statePath, kindStats.map { case (k, (p50, _)) => k -> p50 }.toMap)
          .foreach(l => out.println(s"perfbench: $l"))
        val full = layer + ("jvm.heap_after_gc_mb" -> heapMb)
        val idle = layerUnits.map(_._1).filterNot(full.contains)
        if (idle.nonEmpty)
          out.println(s"perfbench: layers idle in $workload (reported as 0): ${idle.mkString(", ")}")
        layerUnits.map { case (name, unit) => name -> (full.getOrElse(name, 0.0), unit) }.toMap
      }
    val ordered = (if (traced) layerUnits.map(_._1)
                   else Seq("setup_s", "op_p50_s", "op_tail_s", "heap_retained_mb"))
      .map(k => k -> Map("value" -> metrics(k)._1, "unit" -> metrics(k)._2))
    out.println(Stats.json(mutable.LinkedHashMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(ordered: _*))))
    0
  }

  /** Tracing overhead: this traced run's per-kind medians against those
    * of the last untraced run of the same workload in this checkout. */
  private def overheadLine(untraced: Path, traced: Map[String, Double]): Option[String] =
    if (!Files.exists(untraced)) Some("trace overhead: no untraced run of this workload recorded yet")
    else {
      val base = "\"([^\"]+)\": ([0-9.eE+-]+)".r.findAllMatchIn(Files.readString(untraced))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val common = traced.keySet.intersect(base.keySet).toSeq.sorted
      if (common.isEmpty) None
      else {
        val ratio = Stats.geomean(common.map(k => traced(k) / base(k)))
        Some(f"trace overhead: traced/untraced op p50 = $ratio%.3f (${(ratio - 1) * 100}%+.1f %%) " +
          common.map(k => f"$k ${traced(k)}%.4f/${base(k)}%.4f s").mkString("[", ", ", "]"))
      }
    }
}
