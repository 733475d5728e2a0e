package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.EntityCorpus
import graft.spec.SpecJson
import graft.oracle.OracleEmitter

/** Golden E2E suite (the reference's RunnerFullTests role,
  * `RunnerFullTests.java:143-161`): every example spec runs over the
  * deterministic corpus through BOTH the distributed engine and the
  * independent single-threaded oracle; outputs must be set-equal and the
  * A1 counters must match exactly. */
class GoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val n = 600
  lazy val contents: Seq[String] = (0L until n.toLong).map(i => EntityCorpus.contentFor(42L, i))
  lazy val corpus = EntityCorpus.generate(spark, n).toDF().cache()

  def specNamed(name: String): graft.spec.DumpSpec =
    SpecJson.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/test/resources/specs/$name"))))

  val specFiles = Seq("nothing.json", "english-labels.json", "humans.json",
    "politicians.json", "scholarly-articles.json", "scholarly-authors.json",
    "simple-spec.json")

  specFiles.foreach { file =>
    test(s"engine matches oracle on $file") {
      val spec = specNamed(file)
      val oracle = OracleEmitter.run(spec, contents, EntityCorpus.sites)
      val engine = Pipeline.triples(corpus, spec)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val missing = oracle.triples -- engine
      val extra = engine -- oracle.triples
      assert(missing.isEmpty && extra.isEmpty,
        s"$file: ${missing.size} missing (${missing.take(3)}), ${extra.size} extra (${extra.take(3)})")
      val (ents, stmts) = Pipeline.counters(corpus, spec)
      assert(ents == oracle.entities, s"$file entities: engine $ents vs oracle ${oracle.entities}")
      assert(stmts == oracle.statements, s"$file statements: engine $stmts vs oracle ${oracle.statements}")
    }
  }

  test("P/R vs oracle is 1.0 on every spec (north-rule metric, distributive)") {
    import spark.implicits._
    specFiles.foreach { file =>
      val spec = specNamed(file)
      val oracleDf = OracleEmitter.run(spec, contents, EntityCorpus.sites)
        .triples.toSeq.toDF("subj", "pred", "obj")
      val pr = PrecisionRecall.of(Pipeline.triples(corpus, spec), oracleDf)
      assert(pr.passes(0.95), s"$file: $pr")
      assert(pr.precision == 1.0 && pr.recall == 1.0, s"$file not exact: $pr")
    }
  }

  test("one-pass multiplexed counters equal per-spec counters") {
    val specs = specFiles.map(f => f -> specNamed(f))
    val obs = new org.apache.spark.sql.Observation("golden_multiplexed_counters")
    Pipeline.triplesMultiplexed(corpus, specs, observation = Some(obs))
      .write.format("noop").mode("overwrite").save()
    val multi = Pipeline.observedCounters(obs, specs)
    specs.foreach { case (name, spec) =>
      assert(multi(name) == Pipeline.counters(corpus, spec), s"counters diverge for $name")
    }
  }

  test("sampling (simple-spec 90%/seed 132) is partition-count invariant") {
    val spec = specNamed("simple-spec.json")
    val t1 = Pipeline.triples(corpus, spec).collect().map(_.toString).sorted.toSeq
    val t2 = Pipeline.triples(corpus.repartition(13), spec).collect().map(_.toString).sorted.toSeq
    assert(t1 == t2)
  }

  test("golden output hashes are pinned (regression lock)") {
    // engine output fingerprint per spec — locks semantics against drift;
    // regenerate ONLY on a deliberate semantic change
    val got = specFiles.map { file =>
      val lines = Pipeline.ntLines(Pipeline.triples(corpus, specNamed(file)))
        .collect().sorted.mkString("\n")
      file -> OracleEmitter.sha256Hex(lines).substring(0, 16)
    }.toMap
    val goldenPath = java.nio.file.Paths.get("src/test/resources/goldens.txt")
    if (!java.nio.file.Files.exists(goldenPath)) {
      // bootstrap (like RunnerFullTests.java:79-100 does on first run)
      val content = got.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v" }.mkString("\n") + "\n"
      java.nio.file.Files.writeString(goldenPath, content)
      info(s"bootstrapped goldens at $goldenPath")
    } else {
      val want = scala.io.Source.fromFile(goldenPath.toFile).getLines()
        .filter(_.nonEmpty).map { l => val Array(k, v) = l.split(" "); k -> v }.toMap
      got.foreach { case (k, v) =>
        assert(want.get(k).contains(v), s"golden hash drift for $k: got $v want ${want.get(k)}")
      }
    }
  }
}
