package coldwarm

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Paths, Files => JFiles}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.core.{CacheScope, SessionTune, Tables}

/** One benchmark JVM: set-up, one cold pass, warm passes until the
  * measuring window closes, then the record of every pass as JSON.
  *
  * {{{
  * java ... coldwarm.ColdWarm --workload tlq --data <inputs> --work <dir>
  *   --seconds 12 --min-warm 3 --threads 3 --trace 0 --result <file>
  * }}}
  *
  * Each pass leaves its final outputs under `<work>/out/pass-<n>`;
  * collected answers and report text are written there after the pass,
  * outside its timed window. */
object ColdWarm {

  def main(args: Array[String]): Unit = {
    val heapPeak = new HeapPeak
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val work = opt("work")
    val threads = opt("threads").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val gcAtStart = gcMillis()

    val builder = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("coldwarm")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    SessionTune.defaults.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val partitions = SessionTune.tuneForData(spark, data)
    val workload = Workload(opt("workload"), spark, data)
    workload.tables.foreach(t => Tables.load(spark, data, t).createOrReplaceTempView(t))
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val out = mutable.LinkedHashMap[String, Json](
      "setup_s" -> Num(setupS),
      "threads" -> Num(threads),
      "nproc" -> Num(Runtime.getRuntime.availableProcessors),
      "jvm_flags" -> Arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).map(Str(_)).toSeq),
      "shuffle_partitions" -> Num(partitions))
    JFiles.writeString(Paths.get(work, "oracle.json"), Obj(Seq(
      "outputs" -> Obj(workload.oracle.toSeq.sorted.map { case (n, e) => n -> Str(e) }),
      "sql" -> Obj(workload.oracle.values.toSeq.distinct.sorted
        .map(e => e -> Str(graft.SparkEntry.oracleSql(e)))))).render, UTF_8)
    out ++= run(spark, workload, work, opt("seconds").toDouble, opt("min-warm").toInt, traced, heapPeak)
    out("gc_s") = Num((gcMillis() - gcAtStart) / 1000.0)
    out("heap_peak_mb") = Num(heapPeak.peak / 1048576.0)
    JFiles.writeString(Paths.get(opt("result")), Obj(out.toSeq).render, UTF_8)
    spark.stop()
  }

  /** The pass loop: the cold pass, then warm passes until `seconds` have
    * passed and at least `minWarm` warm passes ran. With `traced` the
    * cold pass stays untraced and the warm passes alternate traced,
    * untraced, traced, ..., so that each untraced warm pass sits between
    * two traced ones and their difference is the tracing overhead. */
  private def run(spark: SparkSession, w: Workload, work: String,
      seconds: Double, minWarm: Int, traced: Boolean, heapPeak: HeapPeak): Seq[(String, Json)] = {
    val tracer = new Tracer(spark, traced)
    val compiler = ManagementFactory.getCompilationMXBean
    val passes = mutable.ArrayBuffer.empty[Json]
    val t0 = System.nanoTime()
    var i = 0
    while (i <= minWarm || (System.nanoTime() - t0) / 1e9 < seconds) {
      val dir = s"$work/out/pass-$i"
      tracer.startPass(i, traced && i % 2 == 1)
      val c0 = compiler.getTotalCompilationTime
      val cpu0 = processCpuNs()
      val st0 = machineSteal()
      val p0 = System.nanoTime()
      var wall, cpuS, compileS, stealS = -1.0
      def stop(): Unit = if (wall < 0) {
        wall = (System.nanoTime() - p0) / 1e9
        cpuS = (processCpuNs() - cpu0) / 1e9
        stealS = (machineSteal() - st0) / 100.0
        compileS = (compiler.getTotalCompilationTime - c0) / 1000.0
      }
      val result = Try(CacheScope.withScope {
        val outs = w.pass(dir, tracer)
        stop()
        heapPeak.probe() // while the pass's caches are still held
        outs
      })
      stop()
      spark.catalog.clearCache()
      val saved = result.flatMap(outs => Try(outs.foreach { case (n, o) => save(spark, dir, n, o) }))
      passes += Obj(Seq("pass" -> Num(i), "wall_s" -> Num(wall), "cpu_s" -> Num(cpuS),
        "steal_s" -> Num(stealS), "compile_s" -> Num(compileS),
        "traced" -> Num(if (tracer.on) 1 else 0), "dir" -> Str(dir)) ++ (saved match {
          case Success(_) => Seq("outputs" -> Arr(result.get.map(o => Str(o._1))))
          case Failure(e) =>
            System.err.println(s"[coldwarm] pass $i failed: $e")
            e.printStackTrace()
            Seq("error" -> Str(e.toString))
        }))
      i += 1
    }
    val spans = tracer.spans.toSeq.map { s =>
      val c = tracer.counters(s.pass, s.name)
      Obj(Seq("pass" -> Num(s.pass), "name" -> Str(s.name), "parent" -> Str(s.parent),
        "start_s" -> Num((s.startNs - t0) / 1e9), "end_s" -> Num((s.endNs - t0) / 1e9),
        "jobs" -> Num(c.jobs.toDouble), "tasks" -> Num(c.tasks.toDouble), "busy_s" -> Num(c.busyMs / 1000.0),
        "fetch_wait_s" -> Num(c.fetchWaitMs / 1000.0), "shuffle_bytes" -> Num(c.shuffleBytes.toDouble),
        "spill_bytes" -> Num(c.spillBytes.toDouble), "gc_s" -> Num(c.gcMs / 1000.0)))
    }
    val notes = tracer.notes.toSeq.sortBy(_._1).map { case ((p, n), v) =>
      Obj(Seq("pass" -> Num(p), "name" -> Str(n), "value" -> Num(v)))
    }
    Seq("passes" -> Arr(passes.toSeq), "spans" -> Arr(spans), "notes" -> Arr(notes))
  }

  /** Leaves every output of a pass on disk under `dir`, for the digest
    * and oracle checks made after the JVM exits. */
  private def save(spark: SparkSession, dir: String, name: String, o: Output): Unit =
    o match {
      case Text(v) =>
        JFiles.createDirectories(Paths.get(dir))
        JFiles.writeString(Paths.get(s"$dir/$name.txt"), v, UTF_8)
      case Collected(rows, schema) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
      case Written =>
    }

  /** CPU time of every thread of this JVM (user + system). */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Steal time of the whole machine so far, in clock ticks (1/100 s),
    * from the first line of `/proc/stat`. */
  private def machineSteal(): Long =
    JFiles.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  sealed trait Json { def render: String }
  final case class Num(v: Double) extends Json {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Str(v: String) extends Json {
    def render: String = "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
  final case class Arr(v: Seq[Json]) extends Json {
    def render: String = v.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(v: Seq[(String, Json)]) extends Json {
    def render: String = v.map { case (k, x) => Str(k).render + ":" + x.render }.mkString("{", ",", "}")
  }
}

/** The largest live heap the run held: heap in use after a full
  * collection, probed at the end of every pass, outside its timed window
  * and before the pass's caches are released. Whatever set-up retains is
  * still held then. Readings after young collections are left out, since
  * where those fall within a pass is a matter of timing (they made the
  * figure bimodal from run to run). The probe collects until the heap
  * stops shrinking: Spark's context cleaner frees a pass's shuffle and
  * broadcast state only after a collection has found it unreachable, and
  * on a busy machine it takes a while to get to it: the probe stops once
  * three collections in a row have freed less than 1 MiB. */
final class HeapPeak {
  private val memory = ManagementFactory.getMemoryMXBean
  var peak = 0L

  private def collected(): Long = {
    System.gc()
    memory.getHeapMemoryUsage.getUsed
  }

  def probe(): Unit = {
    var low = collected()
    var steady = 0
    var rounds = 0
    while (steady < 3 && rounds < 25) {
      Thread.sleep(200)
      val now = collected()
      steady = if (now < low - (1L << 20)) 0 else steady + 1
      low = math.min(low, now)
      rounds += 1
    }
    peak = math.max(peak, low)
  }
}
