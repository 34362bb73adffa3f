package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.sources.Tables

/** One benchmark JVM: set up, run a timed cold pass over a query list,
  * optionally write every query's output for the oracle check, then run
  * timed warm passes.
  *
  * Arguments are `key=value`:
  *   data     directory holding the ten input tables
  *   queries  comma-separated query names, in pass order
  *   cpus     N of `local[N]`
  *   trace    1 = attach the layer listeners during set-up, the cold pass
  *            and every other warm pass
  *   mode     `setup` = halt once set up; otherwise:
  *   warm     number of warm passes after the cold one
  *   check    (optional) directory for each query's output as parquet
  *
  * Every record goes to stdout as one line starting with `@@`, so output
  * the program prints on its own cannot be mistaken for it.
  */
object Harness {
  /** Local property `<query>|<step>` naming what started a job: `build`
    * (building the query's frame), `execute` (its noop write) or `check`
    * (writing its output for the oracle). */
  val PhaseKey = "perfbench.phase"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def emit(fields: (String, Any)*): Unit = {
    println("@@" + json.writeValueAsString(fields.toMap))
    Console.out.flush()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def jvmCounters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "cpu_s" -> osBean.getProcessCpuTime / 1e9,
      "jvm.gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val data = opt("data")
    val queries = opt("queries").split(",").toSeq
    val cpus = opt("cpus").toInt
    val trace = opt("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val counters = new Counters
    val tracer = new Tracer(counters)
    val phases = new PhaseListener(counters)
    val streams = new StreamListener(counters)
    def attach(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(phases)
        spark.streams.addListener(streams)
      } else {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(phases)
        spark.streams.removeListener(streams)
      }
    def snapshot(): Map[String, Double] = {
      PerfbenchBridge.drainListeners(sc)
      counters.snapshot() ++ jvmCounters()
    }

    attach(trace)
    Tables.all.foreach(Tables.load(spark, data, _))
    emit("event" -> "setup", "counters" -> (if (trace) snapshot() else Map.empty))
    attach(false)
    if (opt.get("mode").contains("setup")) {
      emit("event" -> "done")
      Runtime.getRuntime.halt(0)
    }
    sc.addSparkListener(new WriteCounter(counters))

    // Leftovers of the previous query (cached frames, checkpoint blocks,
    // garbage) are cleared before each query's clock starts, as in
    // graft.Bench.
    def reap(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    def runQuery(name: String): (Double, Double, Double, Option[String]) = {
      reap()
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      var t1 = t0
      val err = try {
        sc.setLocalProperty(PhaseKey, s"$name|build")
        val df = SparkEntry.queries(name)(spark, data)
        t1 = System.nanoTime()
        sc.setLocalProperty(PhaseKey, s"$name|execute")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.setLocalProperty(PhaseKey, null)
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (osBean.getProcessCpuTime - cpu0) / 1e9, err)
    }

    def pass(kind: String, traced: Boolean): Unit = {
      attach(traced)
      val before = snapshot()
      val runs = queries.map(q => q -> runQuery(q))
      val after = snapshot()
      attach(false)
      val wall = runs.map { case (_, r) => r._1 + r._2 }.sum
      // The program's own scratch dirs (sinks, state, checkpoints) and the
      // warehouse; Spark's block-manager files under the same dir come and
      // go with GC and are left out.
      val scratchMb = Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles).toSeq.flatten
        .filter(f => f.getName.startsWith("graft_") || f.getName == "warehouse")
        .map(Harness.diskBytes).sum / 1e6
      emit(
        "event" -> "pass", "kind" -> kind, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> runs.map(_._2._3).sum,
        "build_s" -> runs.map(_._2._1).sum, "execute_s" -> runs.map(_._2._2).sum,
        "scratch_mb" -> scratchMb,
        "counters" -> Counters.delta(after, before).filter(_._2 != 0.0),
        "queries" -> runs.map { case (q, (b, x, c, err)) =>
          Map("name" -> q, "build_s" -> b, "execute_s" -> x, "cpu_s" -> c,
            "error" -> err.orNull)
        })
    }

    pass("cold", trace)

    // The check pass runs between the cold and the warm passes: it is not
    // timed, and it spends the JIT warm-up the warm passes would otherwise
    // still carry.
    opt.get("check").foreach { dir =>
      val before = snapshot()
      val outcome = queries.map { q =>
        reap()
        val err = try {
          sc.setLocalProperty(PhaseKey, s"$q|build")
          val df = SparkEntry.queries(q)(spark, data)
          sc.setLocalProperty(PhaseKey, s"$q|check")
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        } finally sc.setLocalProperty(PhaseKey, null)
        q -> err
      }
      val written = Counters.delta(snapshot(), before)
      val oracle = SparkEntry.oracleSql
      emit("event" -> "check",
        "queries" -> outcome.map { case (q, err) =>
          Map("name" -> q, "error" -> err.orNull, "oracle" -> oracle.get(q).orNull,
            "build_records_written" -> written.getOrElse(s"records_written.$q|build", 0.0))
        })
    }
    // Traced runs alternate plain and traced warm passes, so the
    // listeners' own cost shows as the gap between the two.
    (0 until opt("warm").toInt).foreach(i => pass("warm", trace && i % 2 == 1))

    if (trace) {
      // A full noop scan of every base table, three times: the floor the
      // sources layer sets under every query.
      val scans = (1 to 3).map { _ =>
        reap()
        attach(true)
        val before = snapshot()
        val t0 = System.nanoTime()
        Tables.all.foreach(t => Tables.load(spark, data, t).write.format("noop").mode("overwrite").save())
        val wall = (System.nanoTime() - t0) / 1e9
        val after = snapshot()
        attach(false)
        Map("wall_s" -> wall, "tasks" -> Counters.delta(after, before)("exec.tasks"))
      }
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1e6
      emit("event" -> "scan", "scans" -> scans, "heap_peak_mb" -> heapPeak)
    }

    spark.stop()
    emit("event" -> "done")
  }

  def diskBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(diskBytes).sum).getOrElse(0L)
    else f.length
}
