package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** S7 claim protocol: concurrent workers over the same specsDir/outDir
  * must produce each spec exactly once (the reference's transactional
  * 3-step claim, `Database.java:56-103`, re-expressed as atomic
  * create-if-absent claim files + atomic done markers). */
class BackendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Spark jobs one `Backend.run` over gen:800 and the fixture specs may
    * submit. It measured 4 (dedup shuffle, range sampling, range shuffle,
    * file write); the margin absorbs a range re-sample. */
  private val MaxBackendJobs = 6

  private val specsDir = "src/test/resources/specs"
  /** parseable specs only — the fixture dir deliberately includes an
    * unparseable one (family-filter) for the skip path */
  private def allSpecNames: Set[String] =
    new java.io.File(specsDir).listFiles()
      .filter(_.getName.endsWith(".json"))
      .filter(f => scala.util.Try(graft.spec.SpecJson.parse(
        Files.readString(f.toPath))).isSuccess)
      .map(_.getName.stripSuffix(".json")).toSet

  private def specNamed(name: String): graft.spec.DumpSpec =
    graft.spec.SpecJson.parse(Files.readString(Paths.get(s"$specsDir/$name.json")))

  /** The run's done markers, run metadata and lineage manifest agree with
    * an independent recount: per-spec A1 counters, committed rows. */
  private def assertRunStats(out: String, corpusArg: String, r: Backend.RunReport): Unit = {
    val corpus = graft.sources.EntityCorpus.generate(spark, corpusArg.stripPrefix("gen:").toLong).toDF()
    val table = s"$out/triples"
    val run = spark.read.json(s"$out/_meta/db/${r.runId}/run.json").head()
    val version = run.getAs[Long]("snapshotVersion").toInt
    val manifestPath = Paths.get(s"$out/_meta/manifests/${r.runId}.json")
    if (r.produced.isEmpty) {
      assert(version == 0 && !Files.exists(manifestPath))
      return
    }
    val snap = graft.sources.SnapshotTable.snapshotAt(table, version)
    r.produced.foreach { n =>
      val f = Files.readString(Paths.get(s"$out/_meta/done/$n.tsv")).trim.split("\t")
      assert(f(1) == r.runId)
      assert((f(2).toLong, f(3).toLong) == Pipeline.counters(corpus, specNamed(n)),
        s"$n: done-marker counters differ from Pipeline.counters")
      val committed = graft.sources.SnapshotTable.read(spark, table, version = version,
        partitions = Some(Seq(n))).count()
      assert(f(4).toLong == committed, s"$n: tripleCount ${f(4)} vs $committed committed rows")
    }
    val manifest = spark.read.json(manifestPath.toString).collect()
    assert(manifest.forall(_.getAs[Long]("snapshotVersion") == version))
    assert(manifest.map(_.getAs[String]("specId")).toSet.subsetOf(r.produced.toSet))
    assert(manifest.map(_.getAs[Long]("rows")).sum ==
      r.produced.flatMap(snap.partitions.getOrElse(_, Nil)).map(_.rows).sum)
  }

  test("done markers and the run manifest match a recount of the committed snapshot") {
    val out = Files.createTempDirectory("graft-backend-stats").toString
    val r = Backend.run(spark, specsDir, "gen:800", out)
    assert(r.produced.toSet == allSpecNames)
    assertRunStats(out, "gen:800", r)
  }

  test("Backend.run is one data pass: a bounded job count and no read-back of its output") {
    val out = Files.createTempDirectory("graft-backend-jobs").toString
    val sc = spark.sparkContext
    val group = "backend-job-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val scans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def scanLocations(p: org.apache.spark.sql.execution.SparkPlanInfo): Seq[String] =
      p.metadata.get("Location").toSeq ++ p.children.flatMap(scanLocations)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          scanLocations(s.sparkPlanInfo).foreach(scans.add)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try Backend.run(spark, specsDir, "gen:800", out) finally sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get > 0 && jobs.get <= MaxBackendJobs, s"${jobs.get} Spark jobs")
    assert(!scans.asScala.exists(_.contains(s"$out/triples")), s"read-back of the output: $scans")
  }

  test("every run removes its progress listener and timer, on success and on failure") {
    val out = Files.createTempDirectory("graft-backend-listener").toString
    val mydir = Files.createTempDirectory("graft-backend-specs3")
    Files.copy(Paths.get(s"$specsDir/nothing.json"), mydir.resolve("nothing.json"))
    val sc = spark.sparkContext
    def leaked(): Seq[String] = {
      org.apache.spark.ListenerBusAccess.drain(sc)
      org.apache.spark.ListenerBusAccess.listeners(sc).map(_.getClass.getName)
        .filter(_.startsWith("graft.Backend"))
    }
    def progressThreads(): Int = {
      val deadline = System.nanoTime() + 5000000000L
      def live = Thread.getAllStackTraces.keySet.asScala.count(t => t.getName == "graft-progress" && t.isAlive)
      while (live > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      live
    }
    Backend.run(spark, mydir.toString, "gen:200", out)
    assert(leaked().isEmpty && progressThreads() == 0, "after a successful run")
    intercept[Exception](Backend.run(spark, mydir.toString, s"$out/no-such-corpus.parquet", out))
    assert(leaked().isEmpty && progressThreads() == 0, "after a failed run")
  }

  test("two concurrent workers produce each spec exactly once; third run skips all") {
    val out = Files.createTempDirectory("graft-backend-claims").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(Backend.run(spark, specsDir, "gen:800", out))
      val fb = Future(Backend.run(spark, specsDir, "gen:800", out))
      val ra = Await.result(fa, 10.minutes)
      val rb = Await.result(fb, 10.minutes)
      Seq(ra, rb).foreach(assertRunStats(out, "gen:800", _))
      // exactly-once: the produced sets are disjoint and together cover
      // every spec (each pending spec's claim has exactly one winner)
      assert(ra.produced.toSet.intersect(rb.produced.toSet).isEmpty,
        s"double-produced: ${ra.produced.toSet.intersect(rb.produced.toSet)}")
      assert(ra.produced.toSet ++ rb.produced.toSet == allSpecNames,
        s"coverage gap: ${allSpecNames -- ra.produced.toSet -- rb.produced.toSet}")
      // every spec is live in the snapshot table's current manifest and
      // has one done marker; the two workers' commits are two distinct
      // snapshot versions (the manifest CAS serialized them)
      val table = s"$out/triples"
      val head = graft.sources.SnapshotTable.currentVersion(table)
      val committers = Seq(ra, rb).count(_.produced.nonEmpty)
      assert(head == committers,
        s"expected $committers snapshot versions (one per producing worker), got $head")
      val live = graft.sources.SnapshotTable.snapshotAt(table, head).partitions
      allSpecNames.foreach { n =>
        assert(live.get(n).exists(_.nonEmpty), s"missing live partition $n")
        assert(Files.exists(Paths.get(s"$out/_meta/done/$n.tsv")), s"missing done marker $n")
      }
      // resume: a third worker finds nothing pending
      val rc = Backend.run(spark, specsDir, "gen:800", out)
      assert(rc.produced.isEmpty && rc.skipped.toSet == allSpecNames)
      // stats visible to the third worker cover all specs with rows
      assert(rc.stats.map(_.dumpId).toSet == allSpecNames)
      assert(rc.stats.exists(_.tripleCount > 0))
      // stale-resume guard: a DIFFERENT corpus re-opens every spec —
      // done markers from the old corpus must not be trusted
      val rd = Backend.run(spark, specsDir, "gen:400", out)
      assert(rd.produced.toSet == allSpecNames && rd.skipped.isEmpty,
        s"new corpus must recompute all specs: skipped ${rd.skipped}")
      // and the snapshot's triples now reflect the smaller corpus
      val head2 = graft.sources.SnapshotTable.currentVersion(s"$out/triples")
      assert(head2 == head + 1)
    } finally pool.shutdown()
  }

  test("editing a spec re-opens only that spec under a fresh claim") {
    val out = Files.createTempDirectory("graft-backend-edit").toString
    val mydir = Files.createTempDirectory("graft-backend-specs")
    // two specs: copy from the fixture dir
    Seq("humans.json", "nothing.json").foreach { n =>
      Files.copy(Paths.get(s"$specsDir/$n"), mydir.resolve(n))
    }
    val r1 = Backend.run(spark, mydir.toString, "gen:500", out)
    assert(r1.produced.toSet == Set("humans", "nothing"))
    // touch one spec's CONTENT (append whitespace changes the sha)
    Files.writeString(mydir.resolve("nothing.json"),
      Files.readString(mydir.resolve("nothing.json")) + "\n")
    val r2 = Backend.run(spark, mydir.toString, "gen:500", out)
    assert(r2.produced == Seq("nothing") && r2.skipped == Seq("humans"), r2.toString)
    // the re-run is a REPLACE-PARTITIONS snapshot: only `nothing` was
    // rewritten — `humans` kept its exact v1 data files — and v1 is
    // still time-travelable
    val table = s"$out/triples"
    assert(graft.sources.SnapshotTable.currentVersion(table) == 2)
    val v1 = graft.sources.SnapshotTable.snapshotAt(table, 1).partitions
    val v2 = graft.sources.SnapshotTable.snapshotAt(table, 2).partitions
    assert(graft.sources.SnapshotTable.snapshotAt(table, 2).operation == "replace-partitions")
    assert(v1("humans") == v2("humans"), "untouched partition must keep its files")
    assert(v1("nothing") != v2("nothing"), "edited spec's partition must be rewritten")
    assert(graft.sources.SnapshotTable.read(spark, table, version = 1).count() > 0)
  }

  test("stale claims are taken over; fresh claims are respected") {
    val out = Files.createTempDirectory("graft-backend-stale").toString
    val mydir = Files.createTempDirectory("graft-backend-specs2")
    Files.copy(Paths.get(s"$specsDir/nothing.json"), mydir.resolve("nothing.json"))
    val json = Files.readString(mydir.resolve("nothing.json"))
    // claims are keyed on (spec content, corpus fingerprint) identity
    val ident = json + "\n@corpus:" + Backend.corpusFingerprint("gen:300")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val claim = Paths.get(s"$out/_meta/claims/nothing-${sha.take(8)}.claim")
    Files.createDirectories(claim.getParent)
    Files.writeString(claim, "run-dead\t0\n")
    // fresh claim (default staleness) → respected, nothing produced
    val r1 = Backend.run(spark, mydir.toString, "gen:300", out)
    assert(r1.produced.isEmpty, r1.toString)
    // with staleness 0 the dead worker's claim is taken over
    val r2 = Backend.run(spark, mydir.toString, "gen:300", out, staleClaimMs = 0L)
    assert(r2.produced == Seq("nothing"), r2.toString)
  }
}
