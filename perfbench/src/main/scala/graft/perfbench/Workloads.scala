package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.{Backend, Pipeline}
import graft.emit.{TripleEmitter, Vocab}
import graft.model.Model.EntityDoc
import graft.plans.Canonicalize
import graft.sources.{DumpFormat, EntityCorpus, SnapshotTable}
import graft.spec.{DumpSpec, SpecCompiler, SpecJson}
import LayerTrace.{Span, span}

/** Order-insensitive identity of a set of output rows: the row count and
  * the exact (decimal) sum of each row's xxhash64. */
final case class Fp(rows: Long, hash: String)

object Fp {
  def columns(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("hash"))

  def of(df: DataFrame): Fp = {
    val cols = columns(df)
    val r = df.agg(cols.head, cols.tail: _*).head()
    Fp(r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** `df` with its fingerprint observed in-line, so the job's own sink
    * action computes it without a second pass. */
  def observed(df: DataFrame): (DataFrame, () => Fp) = {
    val o = Observation()
    val cols = columns(df)
    (df.observe(o, cols.head, cols.tail: _*), () => {
      val m = o.get
      Fp(m("rows").asInstanceOf[Long], m("hash").asInstanceOf[java.math.BigDecimal].toPlainString)
    })
  }
}

/** One completed job: its output fingerprint is read after the timer stops. */
final case class Done(fingerprint: () => Fp)

/** Per-layer counts and metrics gathered by one traced pass. */
final case class TracedPass(output: Fp, counts: Map[String, Double])

/** A benchmark workload over a generated corpus (parquet at `corpus`). */
sealed trait Workload {
  def name: String
  /** Parse and compile the spec(s) into a planned job (part of set-up). */
  def compile(spark: SparkSession, corpus: String, work: Path): Unit
  /** The timed job: the program's public entry point, run to completion. */
  def job(spark: SparkSession, corpus: String, work: Path): Done
  /** Expected output, computed independently of the program's dedup,
    * write and canonicalization paths. */
  def reference(spark: SparkSession, corpus: String, work: Path): Fp
  /** The same job, called layer by layer, each call under its own job group. */
  def traced(spark: SparkSession, corpus: String, work: Path, spans: mutable.Buffer[Span]): TracedPass
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "select_humans" => new PipelineWorkload(name, programSpec("humans.json"))
    case "full_dump"     => new PipelineWorkload(name, resource("/perfbench/full-dump.json"))
    case "backend_multi" => new BackendWorkload
    case "canon"         => new CanonWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  def programSpec(file: String): String = resource(s"/specs/$file")

  def read(spark: SparkSession, corpus: String): DataFrame = spark.read.parquet(corpus)

  def sinkNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Materialize `df` as a leaf (its job runs in the caller's group). */
  def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Row count of a materialized leaf, outside every layer's group. */
  def countOf(spark: SparkSession, df: DataFrame): Long = {
    spark.sparkContext.setJobGroup(Bookkeeping, Bookkeeping, interruptOnCancel = false)
    try df.count() finally spark.sparkContext.clearJobGroup()
  }

  val Bookkeeping = "bench"
  val Fixture: DumpFormat = DumpFormat.Fixture

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }
}

import Workloads._

/** Pipeline.triples over one spec, ending in the noop sink. */
final class PipelineWorkload(val name: String, specJson: String) extends Workload {
  private var spec: DumpSpec = _

  def compile(spark: SparkSession, corpus: String, work: Path): Unit = {
    spec = SpecJson.parse(specJson)
    Pipeline.triples(read(spark, corpus), spec).queryExecution.executedPlan
  }

  def job(spark: SparkSession, corpus: String, work: Path): Done = {
    val (out, fp) = Fp.observed(Pipeline.triples(read(spark, corpus), spec))
    sinkNoop(out)
    Done(fp)
  }

  def reference(spark: SparkSession, corpus: String, work: Path): Fp =
    Fp.of(Pipeline.triples(read(spark, corpus), SpecJson.parse(specJson), dedup = false).distinct())

  def traced(spark: SparkSession, corpus: String, work: Path,
             spans: mutable.Buffer[Span]): TracedPass = {
    import spark.implicits._
    val s = spec
    val sites = EntityCorpus.sites
    def layer[A](l: String)(body: => A): A = span(spark, spans, l)(body)
    val scanned = layer("scan")(mat(read(spark, corpus).select("content")))
    val prefiltered = layer("prefilter")(
      mat(scanned.filter(SpecCompiler.prefilter(s, col("content"), Fixture))))
    val gated = layer("gate")(mat(prefiltered.filter(Fixture.gate(col("content"),
      d => d("type") =!= "lexeme" && SpecCompiler.includePredicate(s, d)))))
    val parsed = layer("parse")(mat(gated.select(Fixture.doc(col("content")).as("doc"))
      .select(Pipeline.docColumns: _*)))
    val emitted = layer("emit")(mat(parsed.as[EntityDoc]
      .flatMap(d => TripleEmitter.emit(s, Pipeline.normalize(d), sites))
      .union(spark.createDataset(TripleEmitter.prologue))
      .toDF("subj", "pred", "obj")))
    val (out, fp) = Fp.observed(Pipeline.dedupTriples(emitted, Seq("subj", "pred", "obj")))
    layer("dedup")(sinkNoop(out))
    TracedPass(fp(), Map(
      "scan.rows" -> countOf(spark, scanned).toDouble,
      "prefilter.rows_out" -> countOf(spark, prefiltered).toDouble,
      "gate.rows_out" -> countOf(spark, gated).toDouble,
      "parse.rows" -> countOf(spark, parsed).toDouble,
      "emit.triples" -> countOf(spark, emitted).toDouble))
  }
}

/** Backend.run: four specs multiplexed over one scan, committed to a
  * snapshot table in a fresh output directory per run. */
final class BackendWorkload extends Workload {
  val name = "backend_multi"
  private val specFiles = Seq("humans.json", "english-labels.json", "politicians.json",
    "scholarly-articles.json")
  private var runs = 0

  private def specsDir(work: Path): Path = {
    val dir = work.resolve("specs")
    Files.createDirectories(dir)
    specFiles.foreach(f => Files.writeString(dir.resolve(f), programSpec(f)))
    dir
  }

  def compile(spark: SparkSession, corpus: String, work: Path): Unit = {
    val corpusDf = read(spark, corpus)
    val specs = specFiles.map(f => f.stripSuffix(".json") -> SpecJson.parse(programSpec(f)))
    Pipeline.triplesMultiplexed(corpusDf, specs).queryExecution.executedPlan
    specsDir(work)
  }

  private def outDir(work: Path): Path = {
    runs += 1
    val d = work.resolve(s"backend-out-$runs")
    deleteTree(d)
    d
  }

  /** Committed triples read back through the current snapshot. */
  private def committed(spark: SparkSession, out: Path): Fp = {
    val t = SnapshotTable.read(spark, out.resolve("triples").toString)
      .select("specId", "subj", "pred", "obj")
    try Fp.of(t) finally deleteTree(out)
  }

  private def runBackend(spark: SparkSession, corpus: String, work: Path, out: Path): Unit = {
    // Backend.run reports progress on stdout; keep it off the result stream
    Console.withOut(System.err) {
      Backend.run(spark, work.resolve("specs").toString, corpus, out.toString)
    }
  }

  def job(spark: SparkSession, corpus: String, work: Path): Done = {
    val out = outDir(work)
    runBackend(spark, corpus, work, out)
    Done(() => committed(spark, out))
  }

  def reference(spark: SparkSession, corpus: String, work: Path): Fp = {
    val corpusDf = read(spark, corpus)
    Fp.of(specFiles.map { f =>
      Pipeline.triples(corpusDf, SpecJson.parse(programSpec(f)), dedup = false).distinct()
        .select(lit(f.stripSuffix(".json")).as("specId"), col("subj"), col("pred"), col("obj"))
    }.reduce(_ union _))
  }

  def traced(spark: SparkSession, corpus: String, work: Path,
             spans: mutable.Buffer[Span]): TracedPass = {
    val out = outDir(work)
    span(spark, spans, LayerTrace.Backend)(runBackend(spark, corpus, work, out))
    val table = out.resolve("triples").toString
    val files = SnapshotTable.snapshotAt(table, SnapshotTable.currentVersion(table)).files.size
    spark.sparkContext.setJobGroup(Bookkeeping, Bookkeeping, interruptOnCancel = false)
    try TracedPass(committed(spark, out), Map("write.files" -> files.toDouble))
    finally spark.sparkContext.clearJobGroup()
  }
}

/** Canonicalize over the humans triples: alias edges → connected
  * components → rewrite (the shape of kg_canonical_triples). */
final class CanonWorkload extends Workload {
  val name = "canon"
  private var spec: DumpSpec = _

  def compile(spark: SparkSession, corpus: String, work: Path): Unit = {
    spec = SpecJson.parse(programSpec("humans.json"))
    val corpusDf = read(spark, corpus)
    Canonicalize.aliasEdges(EntityCorpus.parse(corpusDf)).queryExecution.executedPlan
    Pipeline.triples(corpusDf, spec).queryExecution.executedPlan
  }

  def job(spark: SparkSession, corpus: String, work: Path): Done = {
    val corpusDf = read(spark, corpus)
    val mapping = Canonicalize.canonicalMapping(
      Canonicalize.aliasEdges(EntityCorpus.parse(corpusDf)))
    val (out, fp) = Fp.observed(
      Canonicalize.rewriteTriples(Pipeline.triples(corpusDf, spec), mapping))
    sinkNoop(out)
    Done(fp)
  }

  /** Union-find over the collected alias edges; the representative of a
    * component is its least id, as in ConnectedComponents. */
  private def unionFind(edges: Array[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def reference(spark: SparkSession, corpus: String, work: Path): Fp = {
    import spark.implicits._
    val corpusDf = read(spark, corpus)
    val edges = Canonicalize.aliasEdges(EntityCorpus.parse(corpusDf)).as[(String, String)].collect()
    val canon = spark.sparkContext.broadcast(unionFind(edges))
    val wd = Vocab.WD
    val wdIri = "<" + Vocab.WD
    val rewritten = Pipeline.triples(corpusDf, SpecJson.parse(programSpec("humans.json")), dedup = false)
      .as[(String, String, String)]
      .map { case (s, p, o) =>
        val m = canon.value
        val s2 = if (s.startsWith(wd)) m.get(s.substring(wd.length)).fold(s)(wd + _) else s
        val o2 =
          if (o.startsWith(wdIri) && o.endsWith(">"))
            m.get(o.substring(wdIri.length, o.length - 1)).fold(o)(c => wdIri + c + ">")
          else o
        (s2, p, o2)
      }.toDF("subj", "pred", "obj").distinct()
    Fp.of(rewritten)
  }

  def traced(spark: SparkSession, corpus: String, work: Path,
             spans: mutable.Buffer[Span]): TracedPass = {
    def layer[A](l: String)(body: => A): A = span(spark, spans, l)(body)
    val corpusDf = read(spark, corpus)
    val edges = layer("canon.edges")(mat(Canonicalize.aliasEdges(EntityCorpus.parse(corpusDf))))
    val mapping = layer("canon.cc")(mat(Canonicalize.canonicalMapping(edges)))
    val triples = layer("canon.triples")(mat(Pipeline.triples(corpusDf, spec)))
    val (out, fp) = Fp.observed(Canonicalize.rewriteTriples(triples, mapping))
    layer("canon.rewrite")(sinkNoop(out))
    TracedPass(fp(), Map(
      "canon.edges" -> countOf(spark, edges).toDouble,
      "canon.components" -> countOf(spark, mapping.select("canonical").distinct()).toDouble))
  }
}
