package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.extract.Extractor
import graft.materialize.DocAssembler
import graft.pipeline.KgPipeline
import graft.schema.{CatalogEntry, Triple, Turn}
import graft.sources.{NTriplesSource, RdfXmlSource, TranscriptGen}

/** The bulk-harvest calls of the incremental workload: the dump inputs, the
  * parse -> DocAssembler -> publish ingest, and the per-layer probes of the
  * traced run. */
object Harvest {
  val Entities = 50
  val HotFactor = 50
  val Buckets = 16
  /** Files per dump: the RDF/XML parse is file-parallel. */
  val DumpFiles = 8

  def catalog: Seq[CatalogEntry] = TranscriptGen.catalog(Entities)
  def markers: Map[String, String] = TranscriptGen.markerPreds

  def pipeline(r: Run, work: Path): KgPipeline =
    new KgPipeline(PipelineConfig(workDir = work.toString, syncBuckets = Buckets,
      numPartitions = 2 * r.args.cores))

  /** One literal triple per turn: the same logical triples in both dumps. */
  def dumpTriples(turns: Seq[Turn]): Seq[Triple] =
    turns.map(t => Triple(s"urn:conv:${t.conv_id}", s"urn:p:turn${t.turn_idx}",
      t.text, "en", ""))

  /** Write the N-Triples and RDF/XML dumps of `triples` (one complete RDF/XML
    * document per file: the file-parallel contract). */
  def writeDumps(triples: Seq[Triple], nt: Path, xml: Path): Unit = {
    Files.createDirectories(nt)
    Files.createDirectories(xml)
    val per = (triples.size + DumpFiles - 1) / DumpFiles
    triples.grouped(per).zipWithIndex.foreach { case (ts, i) =>
      Files.write(nt.resolve(f"part-$i%05d.nt"),
        ts.map(NTriplesSource.render).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
      Files.write(xml.resolve(f"part-$i%05d.rdf"),
        RdfXmlSource.render(ts).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Parse -> DocAssembler -> staged and published doc generation. */
  def ingest(r: Run, work: Path, triples: => DataFrame, runId: String): Unit = {
    val p = pipeline(r, work)
    val docs = DocAssembler.assemble(triples.select(col("subj"), col("pred"),
      col("obj"), col("objLang").as("lang")), PipelineConfig())
    p.docTable.stagePartitioned(docs.withColumn("bucket", p.subjectBucket(col("subj"))), runId)
    val t0 = System.nanoTime()
    r.span("io.publish")(p.docTable.publishBuckets(runId, p.allBucketIds))
    r.layer("io.publish_s") = r.layer.getOrElse("io.publish_s", 0.0) +
      (System.nanoTime() - t0) / 1e9
  }

  def docs(r: Run, work: Path): Set[org.apache.spark.sql.Row] =
    pipeline(r, work).docTable.read(r.spark).get.collect().toSet

  /** Each harvest layer run alone through the noop sink, so that a lazy
    * call's time is its execution and not only its planning. */
  def layers(r: Run, turnsDir: String, nt: String, xml: String): Unit = {
    val spark = r.spark
    import spark.implicits._
    def turns = spark.read.parquet(turnsDir).as[Turn]
    def probe(name: String)(df: => DataFrame): Double = {
      val s = r.probe(name)(r.noop(df))
      r.layer(s"${name}_s") = s
      s
    }
    val ntS = probe("sources.nt_parse")(NTriplesSource.read(spark, nt).toDF())
    probe("sources.rdfxml_parse")(RdfXmlSource.read(spark, xml).toDF())
    r.layer("sources.rdfxml_rejected_files") = Files.list(java.nio.file.Paths.get(xml))
      .iterator().asScala
      .count(f => RdfXmlSource.parseBytes(f.toString, Files.readAllBytes(f)).isLeft)
    val asm = r.probe("materialize.assemble")(r.noop(DocAssembler.assemble(
      NTriplesSource.read(spark, nt).toDF().select(col("subj"), col("pred"),
        col("obj"), col("objLang").as("lang")), PipelineConfig())))
    r.layer("materialize.assemble_s") = math.max(0.0, asm - ntS)
    def extracted = Extractor.extractEncoded(turns, catalog, markers,
      TranscriptGen.components(catalog))._1.toDF()
    probe("extract.extract")(extracted)
    r.layer("extract.rows") = extracted.count()
    val p = pipeline(r, r.dir("layers"))
    probe("pipeline.supports")(p.computeSupports(spark, turns, catalog, markers))
    r.drainListener()
    r.layer("pipeline.supports_shuffle_bytes") = r.jobs.get.snapshot()
      .filter(_.call == "pipeline.supports").map(_.shuffleWriteBytes).sum
  }
}
