package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.sources.EntityCorpus
import LayerTrace.Span

/** One benchmark run of one workload in this JVM (perfbench/run.py forks
  * one JVM per run, so a crash or OOM fails only that run).
  *
  * Closed loop: one client submits one job at a time to one local[cores]
  * session and measures until `--seconds` have passed. Every job's output
  * is checked against a reference computed once per (workload, seed,
  * size) outside the timed runs. `--trace 1` instead alternates the
  * untraced job with a traced pass that calls each layer on its own, and
  * reports per-layer metrics.
  *
  * args: --workload W --seed N --seconds S --trace 0|1 --entities N
  *       --cores C --setups K --cache DIR --work DIR --out FILE
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        entities: Long, cores: Int, setups: Int, cache: Path, work: Path,
                        out: Path)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("entities").toLong, get("cores").toInt, get("setups").toInt,
      Paths.get(get("cache")), Paths.get(get("work")), Paths.get(get("out")))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The generated corpus for (size, seed), written once and reused. */
  def corpus(spark: SparkSession, a: Args, n: Long): String = {
    val dir = a.cache.resolve(s"corpus-n$n-s${a.seed}")
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val tmp = a.cache.resolve(s"corpus-n$n-s${a.seed}.tmp-${ProcessHandle.current.pid}")
      Workloads.deleteTree(tmp)
      EntityCorpus.generate(spark, n, a.seed, numPartitions = 2 * a.cores)
        .write.parquet(tmp.toString)
      Workloads.deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  def reference(spark: SparkSession, a: Args, wl: Workload, corpusDir: String): Fp = {
    val f = a.cache.resolve(s"ref-${wl.name}-n${a.entities}-s${a.seed}.txt")
    if (Files.exists(f)) {
      val Array(rows, hash) = Files.readString(f).trim.split("\t")
      Fp(rows.toLong, hash)
    } else {
      val fp = wl.reference(spark, corpusDir, a.work)
      val tmp = Paths.get(f.toString + s".tmp-${ProcessHandle.current.pid}")
      Files.writeString(tmp, s"${fp.rows}\t${fp.hash}\n")
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
      fp
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old Gen") || p.getName.contains("Tenured")))
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One timed job with its output check; None if it threw. */
  final case class JobSample(seconds: Double, cpuSeconds: Double, peakOldMb: Double,
                             output: Option[Fp])

  def timedJob(spark: SparkSession, a: Args, wl: Workload, corpusDir: String): JobSample = {
    System.gc()
    oldGen.foreach(_.resetPeakUsage())
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val done = try Some(wl.job(spark, corpusDir, a.work)) catch {
      case e: Exception => e.printStackTrace(); None
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = (osBean.getProcessCpuTime - c0) / 1e9
    val peak = oldGen.fold(0.0)(_.getPeakUsage.getUsed / LayerTrace.MB)
    val fp = done.flatMap(d => try Some(d.fingerprint()) catch {
      case e: Exception => e.printStackTrace(); None
    })
    JobSample(secs, cpu, peak, fp)
  }

  def main(args: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val a = parseArgs(args)
    Files.createDirectories(a.cache)
    Files.createDirectories(a.work)
    val wl = Workloads(a.workload)

    // ---- set-up, several times: session + spec compile + one warm-up
    // pass of the job over the corpus (measured: job times fall steeply
    // over the JIT's first four or so passes; three set-ups and the
    // reference cover those). The first sample counts from process start;
    // corpus generation is fixture preparation and is excluded, and so is
    // the reference, which is computed after set-up.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var corpusDir: String = null
    for (k <- 0 until a.setups) {
      val s0 = if (k == 0) t0 - (bootS * 1e9).toLong else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a)
      var prepNs = 0L
      if (k == 0) {
        val p0 = System.nanoTime()
        corpusDir = corpus(spark, a, a.entities)
        prepNs = System.nanoTime() - p0
        System.err.println(f"[perfbench] fixtures ready in ${prepNs / 1e9}%.2f s")
      }
      wl.compile(spark, corpusDir, a.work)
      wl.job(spark, corpusDir, a.work).fingerprint()
      setupS += (System.nanoTime() - s0 - prepNs) / 1e9
      System.err.println(f"[perfbench] set-up ${k + 1}: ${setupS.last}%.2f s")
    }

    val r0 = System.nanoTime()
    val expected = reference(spark, a, wl, corpusDir)
    System.err.println(f"[perfbench] reference ready in ${(System.nanoTime() - r0) / 1e9}%.2f s")

    val samples = mutable.ArrayBuffer.empty[JobSample]
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tables = mutable.ArrayBuffer.empty[Map[String, Any]]
    var tracedFailures = 0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    do {
      // traced pass first, so the untraced job it is compared with is never
      // the JIT-cold first job of the run
      if (a.trace) tracePass(spark, a, wl, corpusDir, expected) match {
        case Some((metrics, table)) => passes += metrics; tables += table
        case None => tracedFailures += 1
      }
      samples += timedJob(spark, a, wl, corpusDir)
      System.err.println(f"[perfbench] job ${samples.size}: ${samples.last.seconds}%.2f s")
    } while (System.nanoTime() < deadline)

    val failed = samples.count(!_.output.contains(expected)) + tracedFailures
    val attempted = samples.size + (if (a.trace) passes.size + tracedFailures else 0)
    // the first timed job still runs visibly slower while the JIT finishes
    // (measured: 20-40% on select_humans and backend_multi); medians use the jobs
    // after it, so they do not depend on how many jobs fit the window
    val steady = if (samples.size > 1) samples.drop(1) else samples
    val good = steady.filter(_.output.contains(expected))
    val basis = if (good.nonEmpty) good else steady
    val jobS = median(basis.map(_.seconds).toSeq)
    val outRows = expected.rows.toDouble

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> median(setupS.toSeq),
        "job_s" -> jobS,
        "entities_per_s" -> a.entities / jobS,
        "triples_per_s" -> outRows / jobS,
        "cpu_s" -> median(basis.map(_.cpuSeconds).toSeq),
        "peak_heap_mb" -> median(basis.map(_.peakOldMb).toSeq),
        "ok_frac" -> (attempted - failed).toDouble / attempted)
      else if (passes.isEmpty) Map.empty
      else {
        val keys = passes.flatMap(_.keys).distinct
        val m = keys.map(k => k -> median(passes.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        m ++ Map("trace.untraced_job_s" -> jobS,
          "trace.overhead_s" -> (m("trace.job_s") - jobS))
      }

    val result = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "entities" -> a.entities,
      "cores" -> a.cores, "heap_mb" -> Runtime.getRuntime.maxMemory / LayerTrace.MB,
      "correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "expected" -> Map("rows" -> expected.rows, "hash" -> expected.hash),
      "metrics" -> metrics,
      "samples" -> Map(
        "setup_s" -> setupS.toSeq,
        "job_s" -> samples.map(_.seconds).toSeq,
        "cpu_s" -> samples.map(_.cpuSeconds).toSeq,
        "peak_heap_mb" -> samples.map(_.peakOldMb).toSeq,
        "ok" -> samples.map(_.output.contains(expected)).toSeq),
      "trace_passes" -> tables.toSeq)
    Json.write(a.out, result)
    spark.stop()
  }

  /** One traced pass: listener on, each layer under its own job group.
    * Returns the pass's per-layer metrics and its raw per-layer table. */
  def tracePass(spark: SparkSession, a: Args, wl: Workload, corpusDir: String,
                expected: Fp): Option[(Map[String, Double], Map[String, Any])] = {
    val sc = spark.sparkContext
    val listener = new LayerTrace
    val spans = mutable.ArrayBuffer.empty[Span]
    val before = sc.getPersistentRDDs.keySet
    System.gc()
    val gc0 = gcSeconds
    sc.addSparkListener(listener)
    val pass = try Some(wl.traced(spark, corpusDir, a.work, spans)) catch {
      case e: Exception => e.printStackTrace(); None
    } finally {
      // the listener bus is asynchronous: let it drain before reading
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!before(id)) rdd.unpersist(blocking = true) }
    }
    val gcS = gcSeconds - gc0
    pass.filter(_.output == expected).map { p =>
      val layers = listener.snapshot()
      val metrics = LayerMetrics(layers, spans.toSeq, p, gcS)
      (metrics, Map[String, Any](
        "layers" -> layers.map { case (k, v) => k -> v.toMap },
        "spans" -> spans.map(s => Map("layer" -> s.layer, "seconds" -> s.seconds)).toSeq,
        "counts" -> p.counts,
        "metrics" -> metrics))
    }
  }
}
