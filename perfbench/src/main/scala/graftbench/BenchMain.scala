package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark: one client, one query at a time, in one
  * JVM with `local[cores]`.
  *
  * The first pass runs each query cold and then checks its output
  * (untimed): row count and digest, computed by a separate action. Then
  * rounds follow, each running every query once: a warm-up round, whose
  * walls are recorded but not counted, and [[warmRounds]] warm rounds.
  * Every round's order is drawn from the seed. The engine's bench protocol surrounds
  * each run: a noop write forces every output column, then a blocking
  * `CacheScope.releaseAll` and an untimed `System.gc()`.
  *
  * With `--trace 1` a [[Tracer]] is attached for the first pass, where
  * each query also gets [[TracedWarmRuns]] traced warm runs and as many
  * untraced ones (the faster of each counts) for the tracing overhead;
  * then the native-function and source probes run. There are no warm
  * rounds.
  *
  * Usage: BenchMain --mode run|setup --workload W --seed N --seconds S
  *   --trace 0|1 --data DIR --queries q1,q2 --cores C --src SRC --out FILE
  */
object BenchMain {
  val PhaseKey = "graftbench.phase"

  /** Warm runs per query in the traced pass; the faster one counts. */
  val TracedWarmRuns = 2

  /** Wall of one round of every workload, about 2.5 s on 4 cores. */
  val NominalRoundS = 2.5

  /** Warm rounds of an untraced run: as many as fill `seconds` at
    * [[NominalRoundS]], and at least two. The count follows from `seconds`
    * alone, not from the host's speed: warm walls keep falling for a
    * minute of rounds in one JVM (q42_ann_ivf from 1.9 s to 1.5 s), so a
    * count set by elapsed time would let a faster host also measure later,
    * faster rounds. The warm-up round comes on top: the first runs after
    * the cold one still meet JIT transients and read up to 30% slower than
    * later ones. */
  def warmRounds(seconds: Double): Int = math.max(2, math.round(seconds / NominalRoundS).toInt)

  private def now(): Double = System.currentTimeMillis().toDouble

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opts("cores").toInt
    val t0 = System.nanoTime()
    val spark = GraftSession.create(cores)
    val createS = (System.nanoTime() - t0) / 1e9
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = new java.io.PrintWriter(opts("out"), "UTF-8")
    try {
      if (opts("mode") == "setup") out.println(s"""{"setup_s":$setupS}""")
      else out.println(new Run(spark, opts, setupS, createS).json())
    } finally {
      out.close()
      spark.stop()
    }
  }

  final class Run(spark: SparkSession, opts: Map[String, String], setupS: Double,
      createS: Double) {
    val seed: Long = opts("seed").toLong
    val seconds: Double = opts("seconds").toDouble
    val traced: Boolean = opts("trace") == "1"
    val dir: String = opts("data")
    val queries: Seq[String] = opts("queries").split(",").toSeq
    val sc = spark.sparkContext
    val cores: Int = opts("cores").toInt

    val orders = mutable.ArrayBuffer.empty[Seq[String]]
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val warm = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
    val warmUp = mutable.LinkedHashMap.empty[String, Double]
    val tracedWarm = mutable.LinkedHashMap.empty[String, Double]
    val untracedWarm = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.LinkedHashMap.empty[String, String]
    val errors = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var retainedMb = 0.0
    val tracer: Option[Tracer] =
      if (traced) Some(new Tracer(spark, opts("src"))) else None
    val runSpan: Int = tracer.map(_.reserve()).getOrElse(0)
    val runStart: Double = now()

    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    private val heap = ManagementFactory.getMemoryMXBean
    private val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    /** Builds and executes one query; returns its wall in seconds. */
    def runOnce(name: String, pass: Int, kind: String, trace: Option[Tracer]): Double = {
      val qspan = trace.map(_.reserve()).getOrElse(0)
      trace.foreach(_.open(qspan))
      val (n0, sum0) = (codegen.getCount, codegen.getSnapshot.getValues.sum)
      val gc0 = gcMs()
      val t0 = now()
      val n = System.nanoTime()
      var t1, t2 = t0
      var wall = 0.0
      try {
        sc.setLocalProperty(PhaseKey, "build")
        val df = SparkEntry.queries(name)(spark, dir)
        t1 = now()
        sc.setLocalProperty(PhaseKey, "exec")
        df.write.format("noop").mode("overwrite").save()
        wall = (System.nanoTime() - n) / 1e9
        t2 = now()
      } finally {
        val gc1 = gcMs()
        val (n1, sum1) = (codegen.getCount, codegen.getSnapshot.getValues.sum)
        sc.setLocalProperty(PhaseKey, null)
        val t3 = now()
        graft.llm.CacheScope.releaseAll(blocking = true)
        val t4 = now()
        trace.foreach { tr =>
          tr.close()
          val c = tr.counters
          c.add("session.exec_wall_s", (t2 - t0) / 1e3)
          c.add("session.gc_s", (gc1 - gc0) / 1e3)
          c.add("session.codegen_compiles", (n1 - n0).toDouble)
          // the histogram keeps every sample until 1028 are held; past that
          // the mean of the reservoir stands in for the evicted ones
          c.add("session.codegen_compile_s",
            (if (n1 <= 1028) (sum1 - sum0).toDouble
             else (n1 - n0) * codegen.getSnapshot.getMean) / 1e3)
          c.add("registry.build_s", (t1 - t0) / 1e3)
          c.add("cache.release_s", (t4 - t3) / 1e3)
          tr.spans += Span(qspan, runSpan, "query", t0, t4, Seq("workload" -> opts("workload"),
            "name" -> name, "pass" -> pass.toString, "seed" -> seed.toString, "run" -> kind))
          tr.newSpan(qspan, "build", t0, t1)
          tr.newSpan(qspan, "execute", t1, t2)
          tr.newSpan(qspan, "release", t3, t4)
        }
        System.gc()
        if (kind == "warm-up") {
          // state released by the full GC (broadcasts, shuffles) is dropped
          // by Spark's ContextCleaner asynchronously: let it run, then
          // measure what the query really left behind
          Thread.sleep(100)
          System.gc()
          retainedMb = math.max(retainedMb, heap.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
        }
      }
      wall
    }

    /** Untimed output check of one query: rows and digest. */
    def check(name: String): String = {
      sc.setLocalProperty(PhaseKey, "check")
      try {
        val (rows, digest) = Digest(SparkEntry.queries(name)(spark, dir))
        s"$rows:$digest"
      } finally {
        sc.setLocalProperty(PhaseKey, null)
        graft.llm.CacheScope.releaseAll(blocking = true)
        tracer.foreach(_.close()) // deliver the check's events before the next span opens
        System.gc()
      }
    }

    /** Records a failure of `name` instead of propagating it. */
    def guard(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          e.printStackTrace()
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }

    def order(round: Int): Seq[String] = {
      val o = new scala.util.Random(seed * 7919L + round).shuffle(queries)
      orders += o
      o
    }

    def firstPass(): Unit =
      for (name <- order(0)) {
        attempted += 1
        guard(name) {
          cold(name) = runOnce(name, 0, "cold", tracer)
          tracer.foreach { t =>
            tracedWarm(name) =
              Seq.fill(TracedWarmRuns)(runOnce(name, 0, "warm", tracer)).min
            t.detach()
            untracedWarm(name) =
              Seq.fill(TracedWarmRuns)(runOnce(name, 0, "warm-untraced", None)).min
            t.attach()
          }
          checks(name) = check(name)
        }
      }

    def round(r: Int, kind: String): mutable.LinkedHashMap[String, Double] = {
      val w = mutable.LinkedHashMap.empty[String, Double]
      for (name <- order(r)) guard(name) { w(name) = runOnce(name, r, kind, None) }
      w
    }

    // ---- run
    tracer.foreach(_.attach())
    firstPass()
    if (!traced) {
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      val rounds = warmRounds(seconds)
      warmUp ++= round(1, "warm-up")
      // on a host far slower than nominal, stop at twice `seconds`
      while (errors.isEmpty && warm.size < rounds && (warm.size < 2 || elapsed < 2 * seconds))
        warm += round(warm.size + 2, "warm")
    }
    val probes: Seq[(String, Double)] = tracer.toSeq.flatMap { t =>
      t.detach()
      new Probes(spark, dir).all()
    }
    tracer.foreach(_.spans += Span(runSpan, 0, "run", runStart, now(),
      Seq("workload" -> opts("workload"), "seed" -> seed.toString)))

    private def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else v.toString
    private def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
    private def nums(m: Iterable[(String, Double)]) = obj(m.map { case (k, v) => k -> num(v) })
    private def strs(m: Iterable[(String, String)]) = obj(m.map { case (k, v) => k -> quote(v) })

    def json(): String = {
      val rt = ManagementFactory.getRuntimeMXBean
      val fields = mutable.LinkedHashMap[String, String](
        "setup_s" -> num(setupS),
        "attempted" -> attempted.toString,
        "errors" -> strs(errors),
        "orders" -> orders.map(_.map(quote).mkString("[", ",", "]")).mkString("[", ",", "]"),
        "cold" -> nums(cold),
        "warm_up" -> nums(warmUp),
        "warm" -> warm.map(nums).mkString("[", ",", "]"),
        "checks" -> strs(checks),
        "retained_heap_mb" -> num(retainedMb),
        "env" -> strs(Seq(
          "cores" -> cores.toString,
          "nproc" -> Runtime.getRuntime.availableProcessors.toString,
          "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
          "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
          "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
            .mkString(" "),
          "spark" -> spark.version)))
      tracer.foreach { t =>
        val c = t.counters
        c.add("session.create_s", createS)
        c.add("session.core_util", c("session.task_s") / (cores * c("session.exec_wall_s")))
        fields("layers") = nums(c.c ++ probes)
        fields("traced_warm") = nums(tracedWarm)
        fields("untraced_warm") = nums(untracedWarm)
        fields("modules") = strs(t.modules.toSeq.sorted)
        fields("spans") = t.spans.map { s =>
          obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
            "name" -> quote(s.name), "start_ms" -> num(s.startMs),
            "end_ms" -> num(s.endMs), "tags" -> strs(s.tags)))
        }.mkString("[", ",\n", "]")
      }
      obj(fields)
    }
  }
}
