package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run of one workload, in one JVM:
  *
  *  1. checks the workload definitions against the live catalog;
  *  2. starts the session (`local[cores]`, shuffle partitions = cores,
  *     initialPartitionNum 32, UTC, UI off — `graft.Bench`'s settings);
  *  3. generates the seeded inputs with `ScaleGenV2.generate`;
  *  4. two warm-up passes, the first writing each query's result as
  *     parquet for the oracle check the caller makes;
  *  5. timed passes until `--seconds` have elapsed, at least one. With
  *     `--trace 1` the first half runs untraced and the second half under
  *     [[Tracer]], at least one pass each.
  *
  * Each query is timed as two calls: build (`SparkEntry.queries(q)`,
  * including every eager job the module runs while constructing its
  * frame) and execute (the noop-sink write). Caches are cleared between
  * queries outside the timed window. The run's raw record — every
  * sample, the traced counters and spans — goes to `<out>/record.json`;
  * metrics are derived from it by the caller.
  *
  * usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --data DIR --out DIR
  */
object Main {
  import Tracer.{PassKey, PhaseKey}

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = Workloads.all.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}"))
    val catalog = SparkEntry.queries
    val problems = Workloads.problems(catalog.keySet, SparkEntry.oracleSql.keySet)
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println(s"[perfbench] $p"))
      sys.exit(3)
    }
    val (seed, seconds, traced) =
      (opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1")
    val (cores, data, out) = (opt("cores"), opt("data"), opt("out"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val g0 = System.nanoTime()
    graft.tools.ScaleGenV2.generate(spark, data, w.docs, w.vecs, w.dupPct,
      seed, w.factScale)
    val genS = (System.nanoTime() - g0) / 1e9
    System.err.println(f"[perfbench] generated the inputs in $genS%.1f s")
    // peak RSS is the queries' own: restart the high-water mark after
    // generation (Linux clear_refs "5"); the record says if that failed
    val hwmReset =
      try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
      catch { case NonFatal(_) => false }

    val tracer = new Tracer
    val samples = Vector.newBuilder[Map[String, Any]]
    val passes = Vector.newBuilder[Map[String, Any]]
    val leftover = Vector.newBuilder[Map[String, Any]]
    def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    // JVM-wide JIT and GC time, to tell the JVM's own work from the query's
    def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

    /** Runs every workload query once, recording each as a sample. */
    def pass(n: Int, trace: Boolean, sink: (String, DataFrame) => Unit)
        : Unit = {
      val p0 = System.currentTimeMillis()
      val times = w.queries.map { q =>
        sc.setJobGroup(q, q)
        sc.setLocalProperty(PassKey, n.toString)
        if (trace) tracer.current = Some((n, q))
        val (j0, g0) = (jitMs(), gcMs())
        val (c0, t0, m0) = (cpuNs(), System.nanoTime(), System.currentTimeMillis())
        var built: Option[(Long, Long)] = None
        val error =
          try {
            sc.setLocalProperty(PhaseKey, "build")
            val df = catalog(q)(spark, data)
            built = Some((System.nanoTime(), System.currentTimeMillis()))
            sc.setLocalProperty(PhaseKey, "exec")
            sink(q, df)
            None
          } catch { case NonFatal(e) => Some(e) }
        val (c2, t2, m2) = (cpuNs(), System.nanoTime(), System.currentTimeMillis())
        val (j2, g2) = (jitMs(), gcMs())
        val (t1, m1) = built.getOrElse((t2, m2))
        sc.clearJobGroup()
        // the rest is outside the timed window
        spark.catalog.clearCache()
        error.foreach { e =>
          System.err.println(s"[perfbench] pass $n: $q FAILED: $e")
          e.printStackTrace()
        }
        if (trace) {
          org.apache.spark.PerfbenchBus.drain(sc)
          // what clearCache left persisted: localCheckpoint blocks
          leftover += Map("pass" -> n, "query" -> q, "bytes" ->
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
          tracer.addSpan(Span(s"p$n/$q", s"p$n", q, m0, m2))
          tracer.addSpan(Span(s"p$n/$q/build", s"p$n/$q", "build", m0, m1))
          if (built.isDefined)
            tracer.addSpan(Span(s"p$n/$q/exec", s"p$n/$q", "exec", m1, m2))
        }
        // no query pays for collecting its predecessor's garbage
        System.gc()
        System.err.println(f"[perfbench] pass $n%d $q%s: " +
          f"build ${(t1 - t0) / 1e9}%.3f s, exec ${(t2 - t1) / 1e9}%.3f s")
        samples += Map("pass" -> n, "query" -> q, "traced" -> trace,
          "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
          "cpu_s" -> (c2 - c0) / 1e9, "jit_s" -> (j2 - j0) / 1e3,
          "gc_s" -> (g2 - g0) / 1e3,
          "error" -> error.map(_.toString).orNull)
        ((t2 - t0) / 1e9, (c2 - c0) / 1e9)
      }
      if (trace) {
        tracer.current = None
        tracer.addSpan(Span(s"p$n", "", s"pass $n", p0, System.currentTimeMillis()))
      }
      val wall = times.map(_._1).sum
      if (n > 0) passes += Map("pass" -> n, "traced" -> trace,
        "wall_s" -> wall, "cpu_s" -> times.map(_._2).sum)
      System.err.println(f"[perfbench] pass $n%d: $wall%.3f s")
    }

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.mode("overwrite").format("noop").save()
    // Two untimed passes. The first writes the results the oracle check
    // reads. The second takes the burst of JIT compilation that each
    // query's third execution brings (5-8 s of compile time in an
    // etl_facts pass, against about 1 s in later ones).
    pass(-1, trace = false, (q, df) =>
      df.write.mode("overwrite").parquet(s"$out/results/$q"))
    pass(0, trace = false, noop)
    val start = System.currentTimeMillis()
    // generation runs in this JVM (it warms the JVM the same way on every
    // run, and a second JVM would cost more) but is not part of set-up
    val setupS =
      (start - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genS
    def elapsed = (System.currentTimeMillis() - start) / 1e3
    val untracedBudget = if (traced) seconds / 2 else seconds
    var n = 0
    while (n < 1 || elapsed < untracedBudget) {
      n += 1
      pass(n, trace = false, noop)
    }
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      val first = n + 1
      while (n < first || elapsed < seconds) {
        n += 1
        pass(n, trace = true, noop)
      }
    }

    val traceRecord: Map[String, Any] = if (!traced) Map.empty else Map(
      "counters" -> samples.result().filter(_("traced") == true).map { s =>
        val k = (s("pass").asInstanceOf[Int], s("query").toString)
        Map("pass" -> k._1, "query" -> k._2) ++ tracer.countersOf(k)
      },
      "leftover" -> leftover.result(),
      "spans" -> tracer.spans.map(_.toMap))
    val record = Map(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores.toInt,
      "sizes" -> w.sizes, "gen_s" -> genS, "setup_s" -> setupS,
      "hwm_reset" -> hwmReset,
      "peak_rss_mb" -> peakRssMb(),
      "heap_mb" -> (Runtime.getRuntime.maxMemory() >> 20),
      "samples" -> samples.result(), "passes" -> passes.result(),
      "modules" -> w.queries.map(q => q -> Workloads.module(q)).toMap,
      "oracle_sql" -> w.queries.map(q => q -> SparkEntry.oracleSql(q)).toMap,
    ) ++ traceRecord
    Files.writeString(Paths.get(s"$out/record.json"), Json(record))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MiB; -1 off Linux. */
  private def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toLong / 1024.0
    } catch { case NonFatal(_) => -1.0 }
}

/** A minimal JSON writer for the record (maps, sequences, strings,
  * numbers, booleans, null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
