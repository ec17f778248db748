package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Engine}
import graft.operators.Kernels
import graft.sources.TableLoader

/** Epoch milliseconds at nanosecond resolution, on the same time base
  * as the listener's event times.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One op as the client saw it, phase boundaries in epoch ms. `rows` is
  * counted only for entries without an oracle.
  */
final case class OpRec(id: String, name: String, pass: Int, start: Double,
    constructEnd: Double, end: Double, rows: Option[Long],
    error: Option[String])

/** One timed pass; `upFrom` and `upTo` bound it in JVM uptime ms, the
  * time base of collection notifications.
  */
final case class PassRec(pass: Int, traced: Boolean, wallS: Double,
    gcS: Double, upFrom: Long, upTo: Long, ops: Seq[OpRec])

/** Runs ops one at a time from this, the only client thread: a closed
  * loop. Each op is timed from the call that builds its frame to the end
  * of the frame's full materialization through the `noop` sink; the
  * check pass writes parquet instead, for the DuckDB oracle. In a traced
  * pass each phase is marked in a local property, for the listener.
  */
final class Runner(spark: SparkSession, w: Workload, errors: ErrorCounter) {
  private var seq = 0

  def run(name: String, pass: Int, traced: Boolean,
      sink: Option[String]): OpRec = {
    seq += 1
    val id = f"p$pass%d.$seq%04d.$name"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    errors.currentOp = id
    val start = Clock.nowMs
    var constructEnd = Double.NaN
    var rows: Option[Long] = None
    var error: Option[String] = None
    def phase(p: String) = if (traced) sc.setLocalProperty(Probe.PhaseKey, p)
    try {
      phase("construct")
      val built = w.build(name)
      constructEnd = Clock.nowMs
      phase("exec")
      // the noop sink reports no row count, so rows-only entries carry
      // an observed count (one accumulator update per output row)
      val counted = if (w.oracle(name).isEmpty) Some(new Observation()) else None
      val df = counted.fold(built)(o => built.observe(o, count(lit(1)).as("n")))
      sink match {
        case Some(path) => df.write.mode("overwrite").parquet(path)
        case None => df.write.format("noop").mode("overwrite").save()
      }
      rows = counted.map(_.get("n").asInstanceOf[Long])
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
    val end = Clock.nowMs
    if (constructEnd.isNaN) constructEnd = end
    sc.clearJobGroup()
    sc.setLocalProperty(Probe.PhaseKey, null)
    errors.currentOp = ""
    OpRec(id, name, pass, start, constructEnd, end, rows, error)
  }
}

object Main {

  private def secondsOf(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Set-up is repeated this many times and reported as the median. */
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val slots = Runtime.getRuntime.availableProcessors
    Bench.calibrationProbeParallel(slots) // compiles the probe; reading unused

    val errors = ErrorCounter.attach()
    Heap.attach()
    val probe = new Probe
    val planProbe = new PlanProbe
    val session0 = System.nanoTime()
    val spark = Engine.session("perfbench", s"local[$slots]", slots)
    if (traced) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(planProbe)
    }
    val w = Workload(workloadName, spark, data, seed)
    val runner = new Runner(spark, w, errors)
    val sessionS = (System.nanoTime() - session0) / 1e9

    // set-up, repeated: drop every cached table, read and cache again
    val loadS = (1 to SetupReps).map { _ =>
      spark.catalog.clearCache()
      secondsOf(w.tables.foreach(t => TableLoader.table(spark, data, t).cache().count()))
    }
    val cacheBytes = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum

    // the untimed warm-up pass is also the output check: results with
    // an oracle are written as parquet for DuckDB
    val warmT0 = System.nanoTime()
    val warmOps = w.order(0).map(n =>
      runner.run(n, 0, traced = false, w.oracle(n).map(_ => s"$work/verify/$n")))
    val warmS = (System.nanoTime() - warmT0) / 1e9

    // host window before and after the timed passes: if these move, a
    // slow run is the host's, not the code's. The 4-core probe (~0.6 s)
    // runs in every run, the serial one (~1.5 s) in traced runs.
    val mtStart = Bench.calibrationProbeParallel(slots)
    val serialStart = if (traced) Some(Bench.calibrationProbe()) else None

    // timed passes until `seconds` of them have elapsed, each from a
    // collected heap. A traced run alternates untraced and traced passes,
    // at least three so that the traced ones sit between untraced ones:
    // one run gives both the per-layer figures and the tracing overhead.
    val passes = mutable.ArrayBuffer.empty[PassRec]
    var measuredS = 0.0
    while (measuredS < seconds || (traced && passes.size < 3)) {
      val pass = passes.size + 1
      val tracedPass = traced && pass % 2 == 0
      Heap.collect()
      val gc0 = Heap.gcSeconds
      val up0 = Heap.uptimeMs
      val p0 = System.nanoTime()
      val ops = w.order(pass).map(runner.run(_, pass, tracedPass, None))
      val wall = (System.nanoTime() - p0) / 1e9
      passes += PassRec(pass, tracedPass, wall, Heap.gcSeconds - gc0, up0,
        Heap.uptimeMs, ops)
      measuredS += wall
    }

    val functions =
      if (traced) Map("functions" -> kernelTimings(spark)) else Map.empty[String, Any]
    val serialEnd = if (traced) Some(Bench.calibrationProbe()) else None
    val mtEnd = Bench.calibrationProbeParallel(slots)
    // stopping delivers every event still queued for the listeners
    // before the records below are read
    spark.stop()
    val planEnds = planProbe.planEnds.asScala.toSeq.map(_.toDouble)

    val out = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "traced" -> traced,
      "tables" -> w.tables,
      "slots" -> slots, "load_s" -> loadS,
      "session_s" -> sessionS,
      "setup_s" -> (sessionS + median(loadS) + warmS), "warmup_s" -> warmS,
      "cache_bytes" -> cacheBytes,
      "cal_serial_s" -> Seq(serialStart, serialEnd).flatten,
      "cal_mt_s" -> Seq(mtStart, mtEnd),
      "oracles" -> w.entries.flatMap(n => w.oracle(n).map(n -> _)).toMap,
      "error_samples" -> errors.samples.toArray.toSeq,
      "warmup" -> warmOps.map(opJson(_, errors, Nil)),
      // collection notifications arrive shortly after each collection,
      // all long since by now
      "passes" -> passes.toSeq.map(p => Map("pass" -> p.pass, "traced" -> p.traced,
        "wall_s" -> p.wallS, "gc_s" -> p.gcS,
        "heap_after_gc_mb" -> Heap.afterGcMb(p.upFrom, p.upTo),
        "ops" -> p.ops.map(opJson(_, errors, if (p.traced) planEnds else Nil)))),
      "jobs" -> probe.jobs.values.toSeq.map(j => Map(
        "id" -> j.id, "op" -> j.op, "phase" -> j.phase, "site" -> j.site,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
        "task_ms" -> j.taskMs, "max_task_ms" -> j.maxTaskMs,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes)),
      "stages" -> probe.stages.toSeq.map(s => Map("id" -> s.id, "job" -> s.job,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "name" -> s.name))
    ) ++ functions
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(work, "raw.json").toFile, out)
    // op failures are counted in the result, never thrown: a non-zero
    // exit means the benchmark itself broke
    sys.exit(0)
  }

  /** An op as JSON. Its plan phase runs from the builder's return to the
    * end of physical planning of the write, the latest planning end that
    * `planEnds` holds within the op (they are whole milliseconds, hence
    * the slack and the clipping); it is empty without a traced pass, and
    * the plan phase then has no length.
    */
  private def opJson(o: OpRec, errors: ErrorCounter,
      planEnds: Seq[Double]): Map[String, Any] = {
    val planEnd = planEnds.filter(t => t >= o.constructEnd - 1 && t <= o.end + 1)
      .maxOption.fold(o.constructEnd)(_.max(o.constructEnd).min(o.end))
    Map("id" -> o.id, "name" -> o.name, "pass" -> o.pass, "start_ms" -> o.start,
      "construct_end_ms" -> o.constructEnd, "plan_end_ms" -> planEnd,
      "end_ms" -> o.end, "rows" -> o.rows, "error" -> o.error,
      "error_lines" -> errors.count(o.id))
  }

  /** Per-row cost of compiled kernels, timed from outside over a fixed
    * generated frame: the fixed-point money sum against a plain double
    * sum (its floor), and the md5 prefix key.
    */
  private def kernelTimings(spark: SparkSession): Map[String, Double] = {
    val n = 1 << 20
    val f = spark.range(n).selectExpr(
      "cast(id % 100003 as double) / 100 as x",
      "cast(id * 7919 as string) as s").cache()
    f.count()
    def nsPerRow(body: => Any): Double = {
      body
      median(Seq.fill(5)(secondsOf(body))) * 1e9 / n
    }
    val r = Map(
      "dsum_ns_per_row" -> nsPerRow(f.agg(Kernels.dsum(col("x"))).collect()),
      "sum_double_ns_per_row" -> nsPerRow(f.agg(sum(col("x"))).collect()),
      "md5_prefix60_ns_per_row" ->
        nsPerRow(f.agg(max(expr("md5_prefix60(s)"))).collect()))
    f.unpersist()
    r
  }
}
