package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

import graft.operators.DedupOps
import graft.pipeline.{Extract, GenData, Oracle}
import graft.schema.{DetectConfig, Doc, ExtractedDoc, Media}

/** One workload: registered input, one pass (the unit that is timed), and
  * the output check run after the timed passes.
  */
trait Workload {
  def docs: Long
  /** Passes after the cold one that still run slow; excluded from medians. */
  def warmPasses: Int
  def pass(): Unit
  def check(): Seq[String]
}

/** Extract.run (or runConfigured with `cfg`) over the seed's GenData corpus,
  * parquet in, parquet out.
  */
final class ExtractWorkload(spark: SparkSession, input: File, out: File, seed: Long,
                            val cfg: DetectConfig) extends Workload {
  import spark.implicits._
  private implicit val s: SparkSession = spark
  val docsDs: Dataset[Doc] = spark.read.parquet(s"$input/docs").as[Doc]
  val mediaDs: Dataset[Media] = spark.read.parquet(s"$input/media").as[Media]
  val docs: Long = docsDs.count()
  val warmPasses = 2

  def result: Dataset[ExtractedDoc] =
    if (cfg == DetectConfig.Default) Extract.run(docsDs, mediaDs)
    else Extract.runConfigured(docsDs, mediaDs, cfg)

  def pass(): Unit = result.write.mode(SaveMode.Overwrite).parquet(out.getPath)

  /** The same pass into the noop sink: the write layer is the difference. */
  def noopPass(): Unit = result.write.format("noop").mode(SaveMode.Overwrite).save()

  def check(): Seq[String] = {
    val got = spark.read.parquet(out.getPath).as[ExtractedDoc].collect().toSeq
    // the generator, not the parquet just read, says which docs exist
    val inputs = (0L until Corpus.ExtractDocs).map(i => GenData.doc(seed, i))
    val payload = (ref: String) => GenData.payload(seed, ref)
    val oracle =
      if (cfg == DetectConfig.Default) (d: Doc) => Oracle.extract(d, payload)
      else (d: Doc) => Oracle.extractConfigured(d, payload, cfg)
    Checks.extract(inputs, oracle, got)
  }
}

/** DedupOps.dupClustersOf over the seed's documents table, into noop. */
final class DedupWorkload(spark: SparkSession, input: File) extends Workload {
  import spark.implicits._
  val table: DataFrame = spark.read.parquet(s"$input/documents.parquet")
  val docs: Long = table.count()
  val warmPasses = 1

  def pass(): Unit =
    DedupOps.dupClustersOf(table).write.format("noop").mode(SaveMode.Overwrite).save()

  /** Outputs the check reads; kept for the trace's exact counts. */
  lazy val sigs: Seq[(Long, Long)] =
    DedupOps.simHashSignatures(table).as[(Long, Long)].collect().toSeq
  lazy val pairs: Seq[(Long, Long)] =
    DedupOps.simHashPairs(table).select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
  lazy val clusters: Seq[Checks.Cluster] =
    DedupOps.dupClustersOf(table).as[Checks.Cluster].collect().toSeq

  def check(): Seq[String] = {
    Checks.dedup(0L until Corpus.DedupDocs, sigs, pairs, clusters)
  }
}

/** What a run's workloads and probes share. */
final case class Run(spark: SparkSession, seed: Long, cores: Int, root: File, out: File) {
  def open(name: String): Workload =
    Workloads.open(name, spark, new File(root, Workloads.corpusKey(name, seed)), new File(out, name), seed)
}

object Workloads {
  /** Cache key of the corpus a workload reads. */
  def corpusKey(name: String, seed: Long): String =
    if (name == "dedup") Corpus.dedupKey(seed) else Corpus.extractKey(seed)

  def corpusWriter(name: String, spark: SparkSession, seed: Long): String => Unit =
    if (name == "dedup") Corpus.writeDedup(spark, seed) else Corpus.writeExtract(spark, seed)

  def open(name: String, spark: SparkSession, input: File, out: File, seed: Long): Workload =
    name match {
      case "extract"         => new ExtractWorkload(spark, input, out, seed, DetectConfig.Default)
      case "extract_rotated" => new ExtractWorkload(spark, input, out, seed, DetectConfig.ReferenceDefault)
      case "dedup"           => new DedupWorkload(spark, input)
    }
}
