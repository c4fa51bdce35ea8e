package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CacheLifecycle, GraftSession}

/** One benchmark run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --out <dir>`.
  *
  * Closed loop, one client thread, `local[4]`: each timed unit starts
  * after the previous one finished. The run stages its generated
  * inputs (three times; the median counts toward set-up), runs the
  * warm-up units, then timed units until `--seconds` have passed,
  * stopping only at a whole cycle of units. Every unit's outputs are
  * checked. The last stdout line is `PERFBENCH_RESULT <json>`.
  *
  * With `--trace 1` units alternate untraced and traced: the traced
  * ones record layer spans and give the per-layer metrics, the
  * untraced ones give the wall time the tracing overhead is taken
  * against.
  */
object Main {

  /** The per-layer metrics of the benchmark's contract (the layers of
    * the workloads BENCHMARK.json lists), with units. The workloads run
    * only by hand report more (jurisdiction_lookup's kNN and contains
    * join, corpus_curation's dedup stages); those are printed, not part
    * of the contract.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "session.analysis_ms" -> "ms", "session.optimization_ms" -> "ms",
    "session.planning_ms" -> "ms", "session.jobs" -> "count", "session.stages" -> "count",
    "session.tasks" -> "count", "session.scheduler_delay_ms" -> "ms",
    "session.task_cpu_s" -> "s", "session.gc_ms" -> "ms",
    "session.shuffle_write_mb" -> "MB", "session.shuffle_read_mb" -> "MB",
    "session.spill_mb" -> "MB", "session.straggler_ratio" -> "ratio",
    "session.driver_only_ms" -> "ms",
    "cache.stored_mb" -> "MB", "cache.tracked_frames" -> "count",
    "cache.zero_job_calls" -> "count",
    "sources.parse_ms" -> "ms", "sources.features_in" -> "count",
    "sources.write_ms" -> "ms", "sources.bytes_written" -> "bytes",
    "geom.makevalid_ms" -> "ms", "geom.dissolve_ms" -> "ms",
    "geom.vertices_in" -> "count", "geom.vertices_out" -> "count",
    "operators.joinfield_ms" -> "ms", "operators.coastal_cut_ms" -> "ms",
    "operators.erase_ms" -> "ms",
    "plans.index_join_nodes" -> "count", "plans.nested_loop_nodes" -> "count",
    "pipeline.finalize_ms" -> "ms", "pipeline.quality_ms" -> "ms",
    "pipeline.features_out" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB", "streaming.batches" -> "count",
    "streaming.lifecycle_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.self_coverage" -> "ratio")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1).min(s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private[perfbench] def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val out = Files.createDirectories(Paths.get(opt("out")).toAbsolutePath)
    val t0Ms = sys.props.get("perfbench.t0ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    val spark = GraftSession.builder("perfbench").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val collector = new Collector(spark)
    var group = "pb-setup"
    val trace = new Trace(false, collector, () => group)
    val ctx = new Ctx(spark, seed, out, collector, trace)
    def open(g: String): Acc = { group = g; ctx.group = g; val a = collector.open(g); trace.bind(a); a }

    // ---- set-up: stage the inputs three times, then warm up
    open("pb-setup")
    val staging = (0 until 3).map { _ =>
      val t = System.nanoTime(); val sizes = workload.stage(ctx)
      (sizes, (System.nanoTime() - t) / 1e9)
    }
    val inputs = staging.last._1
    val stageS = median(staging.map(_._2))
    val notes = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0
    val warm = System.nanoTime()
    (0 until workload.warmupUnits).foreach { i =>
      open(s"pb-warmup-$i")
      val r = workload.unit(ctx, -1 - i)
      collector.drain(group)
      println(f"warm-up $i: wall ${ctx.timed._1}%.1f ms, cpu ${ctx.timed._2}%.2f s")
      if (!r.ok) { failed += 1; attempted += 1 }
      notes ++= r.notes.map(n => s"warm-up: $n")
    }
    val warmS = (System.nanoTime() - warm) / 1e9
    val setupS = sessionS + stageS + warmS
    val storageMemMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6

    // ---- timed units
    final case class Done(u: Int, traced: Boolean, r: UnitResult,
        wallMs: Double, cpuS: Double, gcMs: Double, acc: Acc, t0: Long, t1: Long,
        storedMb: Double, tracked: Int)
    val done = mutable.ArrayBuffer.empty[Done]
    val loop0 = System.nanoTime()
    // a traced run needs at least one untraced and one traced unit
    val minUnits =
      if (!traced) workload.cycle
      else (Iterator.from(0).find(workload.tracedUnit).get / workload.cycle + 1) * workload.cycle
    var u = 0
    while (u < minUnits || u % workload.cycle != 0 || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val tracedUnit = traced && workload.tracedUnit(u)
      trace.enabled = tracedUnit
      trace.unit = u
      val acc = open(s"pb-unit-$u")
      val call0 = System.nanoTime()
      val r = try workload.unit(ctx, u)
      catch { case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        UnitResult(Nil, 0, ok = false, Map.empty, Seq(s"unit $u threw: $e")) }
      trace.enabled = false
      collector.drain(group)
      val callMs = (System.nanoTime() - call0) / 1e6
      val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      val (wall, cpu, gc, a, b) = ctx.timed
      done += Done(u, tracedUnit, r, wall, cpu, gc, acc, a, b, stored,
        CacheLifecycle.trackedCount(spark))
      println(f"unit $u${if (tracedUnit) " (traced)" else ""}: wall $wall%.1f ms, cpu $cpu%.2f s, gc $gc%.0f ms, checks ${callMs - wall}%.0f ms")
      attempted += 1
      if (!r.ok) failed += 1
      notes ++= r.notes.filterNot(_.startsWith("digest")).map(n => s"unit $u: $n")
      u += 1
    }
    workload.finish(ctx).foreach { n => notes += n; failed = attempted }
    val digest = done.flatMap(_.r.notes).find(_.startsWith("digest")).map(_.stripPrefix("digest "))

    // ---- end-to-end metrics, from the untraced units
    val plain = done.filterNot(_.traced)
    val raw = plain.flatMap(_.r.samplesMs).toSeq
    val samples = workload.latency(plain.map(_.r.samplesMs).toSeq)
    val wallS = plain.map(_.wallMs).sum / 1000
    val cpuPerSample = plain.map(_.cpuS).sum / raw.size.max(1)
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val e2e = Seq(
      ("unit_ms", (median(samples), "ms")),
      ("items_per_s", (plain.map(_.r.items).sum / wallS, "1/s")),
      ("cpu_s", (cpuPerSample, "s")),
      ("retained_heap_mb", (heapMb, "MB")),
      "setup_s" -> (setupS, "s"))

    // workload-specific names for the same numbers
    val p50 = median(samples)
    val named: Seq[(String, Double, String)] = (workload.name match {
      case "bunnyhop_publish" => Seq(("publish_s", p50 / 1000, "s"))
      case "jurisdiction_lookup" => Seq(("lookup_p50_ms", p50, "ms"),
        ("lookup_p90_ms", quantile(samples, 0.9), "ms"))
      case "corpus_curation" => Seq(("curation_docs_per_s", plain.map(_.r.items).sum / wallS, "1/s"))
      case _ => Seq(("stream_events_per_s", plain.map(_.r.items).sum / wallS, "1/s"),
        ("stream_batch_mean_ms", p50, "ms"),
        ("stream_batch_p50_ms", median(raw), "ms"), ("stream_batch_p95_ms", quantile(raw, 0.95), "ms"))
    }) ++ Seq(("cpu_s", cpuPerSample, "s"), ("retained_heap_mb", heapMb, "MB"),
      ("error_rate", failed.toDouble / attempted.max(1), "ratio"), ("setup_s", setupS, "s"))
    println(s"workload ${workload.name} seed $seed: ${raw.size} samples in ${plain.size} " +
      s"untraced units (${workload.itemName}), ${done.size - plain.size} traced units")
    named.foreach { case (n, v, un) => println(f"  $n%-22s $v%14.4f $un") }
    println(s"  latency samples (ms): ${samples.map(x => f"$x%.1f").mkString(" ")}")

    // ---- per-layer metrics, from the traced units
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tr = done.filter(_.traced)
        val self = trace.selfMs
        val rows = tr.map { d =>
          val a = d.acc
          val n = d.r.samplesMs.size.max(1).toDouble
          val spans = trace.of(d.u)
          val layerSpans = spans.filter(s => s.name != "trace.drain" && s.name != "unit")
          val drains = spans.filter(s => s.name == "trace.drain" && s.t0Ns >= spans.find(_.name == "unit")
            .map(_.t0Ns).getOrElse(0L)).map(_.ms).sum
          val unitWall = spans.find(_.name == "unit").map(_.ms).getOrElse(d.wallMs)
          Map(
            "session.analysis_ms" -> a.analysisMs / n,
            "session.optimization_ms" -> a.optimizationMs / n,
            "session.planning_ms" -> a.planningMs / n,
            "session.jobs" -> a.jobs / n, "session.stages" -> a.stages / n,
            "session.tasks" -> a.tasks / n,
            "session.scheduler_delay_ms" -> a.schedDelayMs / n,
            "session.task_cpu_s" -> a.taskCpuNs / 1e9 / n,
            "session.gc_ms" -> d.gcMs / n,
            "session.shuffle_write_mb" -> a.shuffleWriteBytes / 1e6 / n,
            "session.shuffle_read_mb" -> a.shuffleReadBytes / 1e6 / n,
            "session.spill_mb" -> a.spillBytes / 1e6 / n,
            "session.straggler_ratio" -> median(a.stragglerRatios.toSeq),
            "session.driver_only_ms" -> a.driverOnlyMs(d.t0, d.t1) / n,
            "plans.index_join_nodes" -> a.indexJoins / n,
            "plans.nested_loop_nodes" -> a.nestedLoopJoins / n,
            "cache.stored_mb" -> d.storedMb, "cache.tracked_frames" -> d.tracked.toDouble,
            "cache.zero_job_calls" -> spans.count(_.memoServed).toDouble,
            "trace.self_coverage" -> layerSpans.map(s => self(s.id)).sum / (unitWall - drains)
          ) ++ d.r.layer
        }
        val untracedWall = median(plain.map(_.wallMs).toSeq)
        val tracedWall = median(tr.map(_.wallMs).toSeq)
        val keys = PerLayer.map(_._1) ++ rows.flatMap(_.keys).distinct.filterNot(PerLayer.map(_._1).contains)
        val m = keys.map(k => k -> median(rows.flatMap(_.get(k)).toSeq)).toMap +
          ("trace.overhead_ms" -> (tracedWall - untracedWall))
        // self-time report: per layer span name, median per traced unit
        println(f"\nself time per traced unit (median over ${tr.size} units), ms:")
        val names = tr.flatMap(d => trace.of(d.u)).map(_.name).distinct
        names.foreach { nm =>
          val per = tr.map(d => trace.of(d.u).filter(_.name == nm).map(s => self(s.id)).sum)
          println(f"  $nm%-28s ${median(per.toSeq)}%12.2f")
        }
        println(f"  traced unit wall ${tracedWall}%.2f ms, untraced ${untracedWall}%.2f ms, " +
          f"tracing overhead ${tracedWall - untracedWall}%.2f ms")
        Files.write(out.resolve("spans.jsonl"), trace.toJsonLines.asJava)
        m
      }

    if (traced) {
      println("\nper-layer metrics (0 = layer not on this workload's path):")
      perLayer.keys.toSeq.sorted.foreach(k => println(f"  $k%-30s ${perLayer(k)}%14.4f"))
    }
    notes.foreach(n => println(s"note: $n"))
    println(f"set-up: session $sessionS%.2f s, staging $stageS%.2f s (median of 3), warm-up $warmS%.2f s")

    val result = Map(
      "workload" -> workload.name, "seed" -> seed,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e.map { case (k, (v, un)) => k -> Map("value" -> v, "unit" -> un) }.toMap,
      "per_layer" -> PerLayer.map { case (k, un) =>
        k -> Map("value" -> perLayer.getOrElse(k, 0.0), "unit" -> un) }.toMap,
      "named" -> named.map { case (k, v, un) => k -> Map("value" -> v, "unit" -> un) }.toMap,
      "inputs" -> (inputs ++ Map("storage_memory_mb" -> storageMemMb) ++
        inputs.collect { case (k, b: Long) if k.endsWith("bytes") =>
          s"${k}_to_storage_memory" -> b / (storageMemMb * 1e6) }),
      "samples" -> raw.size, "digest" -> digest.orNull,
      "setup_parts_s" -> Map("session" -> sessionS, "stage_median" -> stageS, "warmup" -> warmS))
    println("PERFBENCH_RESULT " + json(result))
    spark.stop()
  }
}
