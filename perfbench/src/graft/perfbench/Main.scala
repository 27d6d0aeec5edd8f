package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Benchmark entry point. One run: generate the seeded inputs, set up,
  * run units in a closed loop for `--seconds`, check the outputs, set up
  * again to sample set-up time, and write one JSON result.
  *
  * Usage: Main --workload lake_detect|corpus_fold --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--spans FILE]
  *
  * With `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` every other unit is traced and the result holds the
  * per-layer metrics, the traced units' overhead against the untraced
  * ones, and the spans are written to `--spans`. */
object Main {
  final case class Ran(i: Int, traced: Boolean, wall: Double,
      delta: Map[String, Double], items: Long, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String =
      opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = new File(need("work"))
    val out = new File(need("out"))
    work.mkdirs()
    val n = Runtime.getRuntime.availableProcessors
    val w: Workload = name match {
      case "lake_detect" => new LakeDetect(work, seed)
      case "corpus_fold" => new CorpusFold(work, seed)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    phases("jvm_to_main") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    phase("generate")(w.generate())
    val setups = mutable.ArrayBuffer.empty[Double]
    def timedSetup(): SparkSession = {
      val t0 = System.nanoTime()
      val s = Session.start(n, work)
      w.setup(s)
      setups += (System.nanoTime() - t0) / 1e9
      s
    }
    var spark = phase("setup")(timedSetup())
    val counters = Counters.attach(spark)
    val tracer = new Tracer(spark, counters)
    val heap = new HeapPeak
    heap.sample()

    // the first unit (cold codegen and JIT) is `first_run_s`; the
    // measured window of `--seconds` starts after it and holds at least
    // one unit — a traced run at least one traced and one untraced
    val ran = mutable.ArrayBuffer.empty[Ran]
    var start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    val minUnits = if (trace) 3 else 2
    var i = 0
    while (i < minUnits || (elapsed < seconds && w.hasNext(i))) {
      if (i == 1) start = System.nanoTime()
      val traced = trace && i % 2 == 1
      val c0 = tracer.snap()
      val t0 = System.nanoTime()
      val r = try tracer.unit(i, traced)(w.unit(i, tracer))
        catch { case e: Throwable => report(s"unit $i failed", e); UnitResult(0, ok = false) }
      val wall = (System.nanoTime() - t0) / 1e9
      val delta = Counters.diff(tracer.snap(), c0)
      phase("heap")(heap.sample())
      val ok = phase("check")(r.ok && (try w.check(i)
        catch { case e: Throwable => report(s"unit $i check failed", e); false }))
      phase("release")(release(spark, w.stateFrames))
      ran += Ran(i, traced, wall, delta, r.items, ok)
      i += 1
    }
    phases("units") = ran.map(_.wall).sum
    val finalOk = phase("final_check")(try w.finalCheck()
      catch { case e: Throwable => report("final check failed", e); false })
    val quality = phase("quality")(try w.quality()
      catch { case e: Throwable => report("quality failed", e); 0.0 })
    heap.sample()
    val conf = Session.effectiveConf(spark)
    phase("setup")(for (_ <- 1 until w.setupReps) {
      Session.stop(spark)
      spark = timedSetup()
    })
    val setupOk = phase("final_check")(try w.checkAfterSetups()
      catch { case e: Throwable => report("final check failed", e); false })
    phase("stop")(Session.stop(spark))

    val attempted = ran.size
    val failed = if (finalOk && setupOk) ran.count(!_.ok) else attempted
    val untraced = ran.filter(!_.traced)
    val steady = if (untraced.size > 1) untraced.drop(1) else untraced
    val steadyWall = steady.map(_.wall).sorted

    println(s"workload $name seed $seed: $attempted units in ${Json.num(elapsed)} s, " +
      s"$failed failed, failed_frac ${Json.num(failed.toDouble / attempted)}")
    println("phase seconds: " + phases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    println("setup seconds: " + setups.map(v => f"$v%.3f").mkString(" "))
    println("heap mb after gc: " + heap.samplesMb.map(v => f"$v%.1f").mkString(" "))
    println("unit seconds: " + ran.map(r => f"${r.wall}%.3f").mkString(" "))
    println("effective conf: " + conf.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val codegen = ran.map(_.delta("compiles")).toSeq
    println("input sizes: " + (w.sizes ++ Seq[(String, Double)](
      "codegen_classes_first_unit" -> codegen.head,
      "codegen_classes_per_unit_p50" -> Stats.quantile(codegen.drop(1).sorted, 0.5)))
      .map { case (k, v) => s"$k=${Json.num(v)}" }.mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.quantile(setups.sorted.toSeq, 0.5), "s"),
        ("first_run_s", ran.head.wall, "s"),
        ("p50_s", Stats.quantile(steadyWall.toSeq, 0.5), "s"),
        ("items_per_s", steady.map(_.items).sum / steady.map(_.wall).sum, "1/s"),
        ("cpu_s", Stats.quantile(steady.map(_.delta("cpu_s")).sorted.toSeq, 0.5), "s"),
        ("quality", quality, "ratio"))
      else {
        val layers = Attribution(tracer, ran.filter(_.traced).toSeq, steadyWall.toSeq)
        layers.print()
        layers.metrics :+ (("driver.heap_peak_mb", heap.peakMb, "MB"))
      }
    metrics.foreach { case (k, v, u) => println(f"  $k%-36s ${Json.num(v)} $u") }
    if (trace) tracer.writeJsonl(new File(opts.getOrElse("spans",
      new File(work, "spans.jsonl").getPath)))

    val body = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString(",")
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}"""
    java.nio.file.Files.write(out.toPath, (result + "\n").getBytes("UTF-8"))
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def report(what: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $what: $e")
    e.printStackTrace()
  }

  /** Release everything persisted that is not stored state — the
    * checkpoints and persists a unit's layer calls leave behind — the
    * way the engine's own benchmark drops state between queries. */
  def release(spark: SparkSession, keep: Seq[DataFrame]): Unit = {
    val kept = keep.flatMap(_.queryExecution.logical.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.id
    }).toSet
    graft.ops.StagePersists.release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = true)
    }
  }
}

/** Driver heap peak, sampled after a full collection at the end of
  * each unit, while the unit's persisted data is still held: the
  * largest live set, not a GC-timing artefact. */
final class HeapPeak {
  val samplesMb = mutable.ArrayBuffer.empty[Double]
  def sample(): Unit = {
    System.gc()
    samplesMb += java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }
  def peakMb: Double = samplesMb.max
}

object Stats {
  /** Linearly interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
